"""Multi-field search (round-6, FIXTURES.md §3.25).

A fielded document (title/body/...) is served as one per-field index
each with FIELD-LOCAL statistics (own postings, dl, avgdl, df) — the
per-field Lucene index model — and queries fuse as a weighted sum of
per-field BM25 scores over the union of the per-field match sets
(BM25F-lite; Lucene's `title:q^w OR body:q` evaluation shape).

Spark shape (scale-first): each field contributes its full scored
match set through `_served_matches`, the shard scorer that serves
every result page (one pruned scan and one shard exchange per
field); the per-field DataFrames `unionByName` BEFORE a single fuse
aggregation, and the top-k is one TakeOrderedAndProject — no
per-field collect, no source scan. At 10^12 docs the fuse input is
posting-list-sized per field, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xsearch_spark.constants import DEFAULT_TOP_K, SCORE_ROUND_DECIMALS
from xsearch_spark.plans.query import ParsedQuery


TITLE_TOKENS = 6


def with_title(docs: DataFrame, n: int = TITLE_TOKENS) -> DataFrame:
    """Deterministic fielded stand-in corpus (the documents fixture has
    one text column): ``title`` = the first ``n`` space-separated words
    of text — the exact Spark twin of ``oracles.title_documents_sql``
    (both keep empty split tokens, both clamp short docs)."""
    return docs.withColumn(
        "title",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, n), " "),
    )


def multi_field_search(
    fields: "dict[str, tuple[object, ParsedQuery]]",
    weights: "dict[str, float] | None" = None,
    k: int = DEFAULT_TOP_K,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """§3.25: fused top-k over per-field indexes -> (doc_id, score).

    ``fields``: field name -> (BuiltIndex over that field's text,
    ParsedQuery analyzed for it). ``weights``: field -> multiplier
    (default 1.0; must be >= 0). score(d) = Σ_f w_f · bm25_f(d) over
    the fields whose query d matches; ties doc_id ASC; the fused
    score is rounded AFTER summation (each per-field score stays
    raw float64 through the fuse, same discipline as every per-doc
    weight sum)."""
    from xsearch_spark.operators.wand import _served_matches

    if not fields:
        raise ValueError("multi_field_search needs at least one field")
    weights = dict(weights or {})
    for f, w in weights.items():
        if f not in fields:
            raise ValueError(f"weight for unknown field {f!r}")
        if not (float(w) >= 0.0):
            raise ValueError(f"field weight must be >= 0, got {f}={w!r}")
    parts = []
    for fname, (built, parsed) in fields.items():
        w = float(weights.get(fname, 1.0))
        scored = _served_matches(built, parsed, None, tombstones)
        parts.append(
            scored.select(
                "doc_id", (F.col("score") * F.lit(w)).alias("score")
            )
        )
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.unionByName(p)
    agg = fused.groupBy("doc_id").agg(F.sum("score").alias("raw"))
    return (
        agg.orderBy(F.desc("raw"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            F.round(F.col("raw"), SCORE_ROUND_DECIMALS).alias("score"),
        )
    )
