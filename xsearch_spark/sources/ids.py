"""S2: deterministic dense doc_id assignment (SURVEY.md §2.1).

Reference parity: xsearch assigns shard-local auto-increment IDs at
ingest (component-level [R]). Our pinned mapping (FIXTURES.md §2): dense
``row_number() - 1`` ordered by (repo, path, commit) ascending.

Two implementations that must produce the SAME mapping (tested, at one
and at several id buckets):

  * ``assign_doc_ids_global``  — a single window over a global order.
    Fine at test scale; at 100 TB a global-order window funnels every
    row through one task — unusable.
  * ``assign_doc_ids_scalable`` — the zipWithIndex topology in the
    DataFrame API, after one ``count()`` that sizes the id buckets
    (``MIN_BUCKET_DOCS`` per bucket at least) and is returned with the
    ids. Several buckets: (1) range boundaries from a SEEDED sample
    collected once on the driver (deterministic — unlike
    ``repartitionByRange``, whose re-sampling between the counts pass
    and the numbering pass can shift boundaries and silently
    double-assign ids; observed at sf0.1), (2) a vectorized
    searchsorted pandas UDF maps each key to its range bucket, (3)
    per-bucket counts -> driver-side exclusive prefix sum
    (num_partitions rows), (4) row_number within each bucket + offset.
    Two passes over the data, no global sort, no single-task stage.
    One bucket (every input under ``MIN_BUCKET_DOCS`` rows): the
    bucket's window at offset 0 is the global window, so it runs as
    exactly that — no sample, no Python stage, no count per bucket and
    no broadcast join; the count pass plus the numbering pass.

Key-ordering note: buckets are ranged on ``repo \\x01 path \\x01 commit``;
the separator sorts below every printable character, so concatenated
order equals the (repo, path, commit) tuple order used by the windows
(keys are ASCII: repo/path are paths, commit is hex — tested).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

KEY = ["repo", "path", "commit"]
_SEP = "\x01"
_SAMPLES_PER_BUCKET = 200


def _key_col():
    return F.concat_ws(_SEP, *[F.col(c) for c in KEY])


def assign_doc_ids_global(df: DataFrame) -> DataFrame:
    w = Window.orderBy(*[F.col(c).asc() for c in KEY])
    return df.withColumn("doc_id", (F.row_number().over(w) - 1).cast("long"))


MIN_BUCKET_DOCS = 4096  # = segments.DEFAULT_DOCS_PER_SEGMENT: id buckets
# are the checkpoint's FILE granularity, and a bucket smaller than a
# segment slices every segment across many files — the packer then emits
# one partial run per (file, segment, term) and run fragmentation
# multiplies pack/merge row counts ~20x at small scale (round 7,
# measured at sf0.1). Scale-adaptive: at any real scale n/4096 far
# exceeds the requested parallelism and the clamp is inert.


def assign_doc_ids_scalable(
    df: DataFrame, num_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """Returns ``(df with doc_id, row count)``; the count is the pass
    that sizes the buckets, so callers need no second one."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    total = df.count()
    if total == 0:
        return df.withColumn("doc_id", F.lit(None).cast("long")), 0
    n = max(1, min(n, total // MIN_BUCKET_DOCS + 1))
    if n == 1:
        # one bucket at offset 0: its window IS the global window
        return assign_doc_ids_global(df), total
    # --- deterministic range boundaries from one seeded sample ----------
    frac = min(1.0, (_SAMPLES_PER_BUCKET * n) / total)
    sample = sorted(
        r["k"]
        for r in df.select(_key_col().alias("k")).sample(fraction=frac, seed=42).collect()
    )
    bounds: list[str] = []
    if sample:
        step = len(sample) / n
        bounds = sorted({sample[int(step * i)] for i in range(1, n)})
    bounds_arr = np.array(bounds, dtype=object)

    @pandas_udf("int")
    def bucket_of(k: pd.Series) -> pd.Series:
        if bounds_arr.size == 0:
            return pd.Series(np.zeros(len(k), dtype=np.int32))
        return pd.Series(
            np.searchsorted(bounds_arr, k.to_numpy(), side="right").astype(np.int32)
        )

    with_b = df.withColumn("_bk", bucket_of(_key_col()))
    # --- pass 1: per-bucket counts -> exclusive prefix sum ---------------
    counts = {
        r["_bk"]: r["c"]
        for r in with_b.groupBy("_bk").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = {}, 0
    for bk in sorted(counts):
        offsets[bk] = acc
        acc += counts[bk]
    offset_df = df.sparkSession.createDataFrame(
        [(bk, off) for bk, off in offsets.items()], "_bk int, _offset long"
    )
    # --- pass 2: number within buckets (shuffle keyed by bucket) ---------
    w = Window.partitionBy("_bk").orderBy(*[F.col(c).asc() for c in KEY])
    return (
        with_b.join(F.broadcast(offset_df), "_bk")
        .withColumn("doc_id", (F.row_number().over(w) - 1 + F.col("_offset")).cast("long"))
        .drop("_bk", "_offset")
    ), total
