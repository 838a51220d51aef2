#!/usr/bin/env python
"""spark-submit entry point: BM25 top-k search over a built index
(SURVEY.md §3.2).

    spark-submit --py-files dist/xsearch_spark.zip scripts/search_submit.py \\
        --index /path/to/index --query "hash join" [--k 10] \\
        [--variant base|code] [--source /path/to/docs --fetch lang,source]

Prints one JSON line per result: {"rank": r, "doc_id": d, "score": s}.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--variant", default="base", choices=["base", "code", "cjk"])
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--source", default=None, help="doc table for lang: filters / fetch")
    ap.add_argument("--fetch", default=None, help="comma-separated columns to fetch")
    args = ap.parse_args()

    from pyspark import SparkConf

    from xsearch_spark.constants import SCORE_ROUND_DECIMALS
    from xsearch_spark.operators.wand import search_wand
    from xsearch_spark.plans.build_index import load_index
    from xsearch_spark.plans.query import parse
    from xsearch_spark.session import start_session
    from xsearch_spark.sources.io import read_table

    spark = start_session(SparkConf().setAppName("xsearch-search"))
    built = load_index(spark, args.index)  # geometry from stats.json
    source = read_table(spark, args.source) if args.source else None
    parsed = parse(args.query, args.variant)
    topk = search_wand(built, parsed, k=args.k, source_df=source)
    rows = topk.collect()
    fetch_cols = args.fetch.split(",") if args.fetch else []
    meta = {}
    if fetch_cols and source is not None:
        ids = [r["doc_id"] for r in rows]
        meta = {
            r["doc_id"]: {c: r[c] for c in fetch_cols}
            for r in source.filter(source.doc_id.isin(ids))
            .select("doc_id", *fetch_cols)
            .collect()
        }
    for rank, r in enumerate(rows, 1):
        out = {
            "rank": rank,
            "doc_id": r["doc_id"],
            "score": round(r["score"], SCORE_ROUND_DECIMALS),
        }
        out.update(meta.get(r["doc_id"], {}))
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
