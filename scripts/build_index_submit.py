#!/usr/bin/env python
"""spark-submit entry point: build the inverted index (SURVEY.md §3.1).

    spark-submit --py-files dist/xsearch_spark.zip \\
        scripts/build_index_submit.py \\
        --input /path/to/code_files --output /path/to/index \\
        --text-col content --variant code [--assign-ids]

Reads Parquet locally / Iceberg when XSEARCH_TABLE_FORMAT=iceberg
(BASELINE.json:14 — Iceberg tables of source-code repositories). The
build is checkpointed: re-submitting after a failure resumes from the
completed stages/partitions (B8).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--variant", default="code", choices=["base", "code", "cjk"])
    ap.add_argument("--assign-ids", action="store_true",
                    help="assign dense doc_ids from (repo, path, commit) order")
    ap.add_argument("--docs-per-segment", type=int, default=4096)
    ap.add_argument("--segs-per-shard", type=int, default=4)
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--fused", action="store_true",
                    help="one-lineage build (pack -> cached runs -> merge); "
                         "faster, coarser resume granularity")
    args = ap.parse_args()

    from pyspark import SparkConf

    from xsearch_spark.plans.build_index import build_index
    from xsearch_spark.session import start_session
    from xsearch_spark.sources.ids import assign_doc_ids_scalable
    from xsearch_spark.sources.io import read_table

    spark = start_session(SparkConf().setAppName("xsearch-build-index"))
    df = read_table(spark, args.input)
    if args.assign_ids:
        df, _n = assign_doc_ids_scalable(df)
    built = build_index(
        spark,
        df,
        args.output,
        text_col=args.text_col,
        variant=args.variant,
        docs_per_segment=args.docs_per_segment,
        segs_per_shard=args.segs_per_shard,
        num_buckets=args.num_buckets,
        fused_merge=args.fused,
    )
    print(
        json.dumps(
            {
                "status": "ok",
                "index": args.output,
                "n_docs": built.n_docs,
                "avgdl": built.avgdl,
                "index_rows": built.index_df.count(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
