"""Seeded inputs for the benchmark: code documents and query mixes.

Documents reuse the content model of ``xsearch_spark.sources.datagen``
(Zipf keywords plus compound identifiers) with an rng seeded from the
benchmark's ``--seed``, and add an integer ``n_lines`` column so the
numeric attribute surfaces (range filters, field stats, histograms,
sort-by-field) have a field to work on. The generator also returns
each document's content sha256, which the build checks compare
against the ids checkpoint.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from xsearch_spark.sources import datagen

SOURCE_COLS = ("repo", "path", "commit", "lang", "content")


def identifier_pool(seed: int) -> np.ndarray:
    return datagen._identifier_pool(np.random.default_rng([seed, 0]))


def make_docs(seed: int, stream: int, lo: int, n: int, idents: np.ndarray) -> pa.Table:
    """``n`` documents with doc keys ``lo .. lo+n-1``; ``stream`` picks an
    independent rng stream so different batches never share content."""
    d = datagen._make_chunk(np.random.default_rng([seed, 1, stream]), idents, lo, n)
    n_lines = np.fromiter((c.count("\n") + 1 for c in d["content"]), np.int64, n)
    cols = {c: pa.array(d[c], pa.string()) for c in SOURCE_COLS}
    cols["n_lines"] = pa.array(n_lines, pa.int64())
    cols["content_sha256"] = pa.array(d["content_sha256"], pa.string())
    return pa.table(cols)


def write_source(table: pa.Table, path: str, doc_id_lo: int | None = None) -> None:
    """Write the source columns (no sha) as parquet; with ``doc_id_lo``
    the rows also carry dense doc ids, as a streamed batch does."""
    t = table.drop_columns(["content_sha256"])
    if doc_id_lo is not None:
        t = t.append_column(
            "doc_id", pa.array(np.arange(doc_id_lo, doc_id_lo + t.num_rows), pa.int64())
        )
    pq.write_table(t, path)


def content_bytes(table: pa.Table) -> int:
    return int(pa.compute.sum(pa.compute.binary_length(table["content"])).as_py())


def sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


# --- query mix ---------------------------------------------------------
#
# Where each proportion comes from: the four term classes, the top-k
# shapes, the page-op kinds and the one-in-five page-op share are the
# serve workload's definition (perfbench/NOTES.md); the hot-keyword
# skew is the corpus's own (keywords are drawn Zipf(1.3) when documents
# are generated, see FIXTURES.md). The class shares (45/35/15/5 %) and
# the Zipf(1.0) skew over identifier parts are assumptions: no query log
# exists to take them from.

# top-k shapes, issued in this fixed rotation so every run sees the same
# proportions; only the terms are drawn from the seed
TOPK_SHAPES = (
    "term", "and", "or", "not", "lang", "prefix", "fuzzy", "phrase",
    "wildcard", "range", "min_match",
)
# result-page operations; a round of single ops holds one of each
PAGE_OPS = (
    "facet_counts", "field_stats", "facet_histogram", "search_sorted",
    "search_collapse", "search_after_topk",
)
# top-k ops in a round: every shape twice, so with one op of each page
# kind 6 of 28 ops (21 %) are page ops, the nearest share to one in
# five that keeps every shape and every page kind equally often
TOPK_PER_ROUND = 2 * len(TOPK_SHAPES)
HOT_ZIPF = 1.3
MID_ZIPF = 1.0

_ABSENT_CHARS = np.array(list("qxzjvkw"))


class Vocab:
    """Term classes drawn with Zipf weights: hot keywords, mid identifier
    parts, rare compounds, and absent terms."""

    def __init__(self, rng: np.random.Generator, idents: np.ndarray):
        self.rng = rng
        self.hot = [k for k in datagen.KEYWORDS if k.isalpha()]
        self.mid = sorted(set(datagen._IDENT_HEADS) | set(datagen._IDENT_TAILS))
        self.rare = sorted({str(i).lower() for i in idents[:2000]})

    def _zipf(self, items: list[str], a: float) -> str:
        p = np.arange(1, len(items) + 1, dtype=np.float64) ** -a
        return items[int(self.rng.choice(len(items), p=p / p.sum()))]

    def hot_term(self) -> str:
        return self._zipf(self.hot, HOT_ZIPF)

    def mid_term(self) -> str:
        return self._zipf(self.mid, MID_ZIPF)

    def term(self) -> str:
        kind = self.rng.random()
        if kind < 0.45:
            return self.hot_term()
        if kind < 0.8:
            return self.mid_term()
        if kind < 0.95:
            return self.rare[int(self.rng.integers(len(self.rare)))]
        return "zz" + "".join(self.rng.choice(_ABSENT_CHARS, 5))

    def head(self) -> str:
        """An identifier head, drawn uniformly: every head starts the
        same share of compound identifiers, so prefix and wildcard
        expansions cost about the same whichever head is drawn."""
        return str(self.rng.choice(datagen._IDENT_HEADS))

    def known(self) -> str:
        return self.mid_term() if self.rng.random() < 0.5 else self.hot_term()

    def topk_query(self, shape: str) -> str:
        t, u = self.term(), self.known()
        if shape == "term":
            return t
        if shape == "and":
            return f"{t} {u}"
        if shape == "or":
            return f"{t} OR {u}"
        if shape == "not":
            return f"{u} -{t}"
        if shape == "lang":
            return f"lang:{self.rng.choice(datagen.LANGS)} {t}"
        if shape == "prefix":
            return f"{self.head()}* {u}"
        if shape == "fuzzy":
            m = self.mid_term()
            i = int(self.rng.integers(1, len(m)))
            return f"{m[:i]}{self.rng.choice(_ABSENT_CHARS)}{m[i + 1:]}~1"
        if shape == "phrase":
            return f'"{self.hot_term()} {self.hot_term()}"'
        if shape == "wildcard":
            return f"{self.head()}*{self.rng.choice(datagen._IDENT_TAILS)[-2:]} {u}"
        if shape == "range":
            lo = int(self.rng.integers(30, 180))
            return f"{u} n_lines:{lo}..{lo + int(self.rng.integers(5, 40))}"
        if shape == "min_match":
            return f"{t} OR {u} OR {self.known()} min_match:2"
        raise ValueError(shape)

    def page_query(self) -> str:
        return f"{self.known()} {self.known()}" if self.rng.random() < 0.5 else self.known()


def single_rounds(seed: int, idents: np.ndarray, page_queries: int = 4) -> Iterator[list[tuple[str, str]]]:
    """The serve workload's endless stream of single-op rounds. A round
    is ``TOPK_PER_ROUND`` top-k ops, every shape twice in the fixed
    rotation, with one result-page op of each kind spread evenly among
    them: (kind, query) pairs where kind is ``topk`` or a page op name.
    Every round has the same mix, so runs that time whole rounds time
    the same mix whatever the seed. Page ops draw from a small set of
    result-page queries, as a search page re-aggregates the same popular
    queries."""
    vocab = Vocab(np.random.default_rng([seed, 2]), idents)
    pages = [vocab.page_query() for _ in range(page_queries)]
    n, m = TOPK_PER_ROUND, len(PAGE_OPS)
    while True:
        out: list[tuple[str, str]] = []
        kinds = iter(PAGE_OPS)
        for j in range(n):
            out.append(("topk", vocab.topk_query(TOPK_SHAPES[j % len(TOPK_SHAPES)])))
            if (j + 1) * m // n > j * m // n:
                out.append((next(kinds), pages[int(vocab.rng.integers(len(pages)))]))
        yield out


def warmup_queries(seed: int, idents: np.ndarray) -> tuple[list[str], str]:
    """One query of every top-k shape and one result-page query, from a
    stream the timed ops do not use."""
    vocab = Vocab(np.random.default_rng([seed, 8]), idents)
    return [vocab.topk_query(shape) for shape in TOPK_SHAPES], vocab.page_query()


def probe_queries(seed: int, idents: np.ndarray, n: int) -> list[str]:
    vocab = Vocab(np.random.default_rng([seed, 3]), idents)
    return [f"{vocab.known()} {vocab.known()}" for _ in range(n)]
