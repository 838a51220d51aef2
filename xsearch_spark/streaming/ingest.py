"""Streaming ingest (SURVEY.md §2.10).

Reference parity: xsearch ingests continuously — gRPC AddDoc -> proxy ->
per-shard disk queue -> indexer goroutine builds in-memory segments,
flushed on size threshold, merged in the background (component-level
[R]; the queue is the author's diskqueue project). The Spark-native
equivalent:

  * ``readStream`` over an append-only staging directory (files play the
    queue's role; at-least-once replay is Spark's checkpointed file
    source),
  * ``foreachBatch``: each micro-batch is packed by the SAME source
    packer as the batch build (``segments.pack_from_source``: tokenize,
    count, attribute postings and positions in one Arrow UDF) into new
    small segment runs under ``segments/`` — one segment per (epoch, doc
    slice), exactly xsearch's flush-small model — so streamed and batch
    segments follow one set of attr rules (numeric encoding, type
    checks),
  * exactly-once: each epoch writes to its own ``epoch=N`` directory
    with mode=overwrite, so foreachBatch re-delivery of an epoch
    replaces its own output idempotently (doc_ids are NOT re-keyed by
    epoch — a doc indexed in two different epochs is a genuine S4 dedup
    violation and fails fast at merge time via the strictly-increasing
    doc_id invariant),
  * periodic ``compact_segments`` = the B5 merge as a batch job (the
    reference's background merge goroutine). BM25's avgdl is
    collection-global, so each epoch records exact (n_docs, sum_dl,
    n_runs) in a tiny sidecar and compaction recomputes the TRUE global
    avgdl and the run count from the sidecar sums, with no driver-side
    file listing. Only the merged index serves queries; the merge
    recomputes every block maximum under that avgdl.

No watermarks/session windows: the capability set has no event-time
aggregation (SURVEY.md §2.5 streaming note).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsearch_spark.operators import segments as seg
from xsearch_spark.sources.io import DOCUMENTS_SCHEMA, write_json, write_table


def start_ingest(
    spark: SparkSession,
    staging_dir: str,
    index_root: str,
    variant: str = "base",
    text_col: str = "text",
    docs_per_segment: int = 4096,
    attr_cols: "str | tuple[str, ...] | list[str] | None" = "lang",
    positions: bool = False,
):
    """Start the streaming ingest; returns the StreamingQuery.

    Each micro-batch goes through :func:`process_epoch`, so ``attr_cols``
    and ``positions`` mean exactly what they mean to ``build_index``:
    every listed column present in the stream emits synthetic attribute
    postings (integer columns order-preserving encoded, floats raise),
    and ``positions`` packs the positional stream for phrase queries.
    ``compact_segments`` self-detects both from the merged rows — no
    configuration to keep in sync.
    """
    os.makedirs(os.path.join(index_root, "segments"), exist_ok=True)
    os.makedirs(os.path.join(index_root, "epoch_stats"), exist_ok=True)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_epoch(
            spark, batch_df, epoch_id, index_root, variant=variant,
            text_col=text_col, docs_per_segment=docs_per_segment,
            attr_cols=attr_cols, positions=positions,
        )

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(staging_dir)
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(index_root, "_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )


def process_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    index_root: str,
    avgdl_hint: float | None = None,
    variant: str = "base",
    text_col: str = "text",
    docs_per_segment: int = 4096,
    attr_cols: "str | tuple[str, ...] | list[str] | None" = "lang",
    positions: bool = False,
) -> None:
    """One micro-batch -> its ``epoch=N`` segment directory + stats
    sidecar. Module-level (not a closure) so exactly-once re-delivery is
    testable in isolation: foreachBatch is at-least-once, and calling
    this twice with the same (batch, epoch_id) must leave the epoch
    directory and sidecar in the same state as one delivery — the epoch
    dir is mode=overwrite and the sidecar goes through ``write_json``, so
    re-delivery replaces its own output idempotently (S4 semantics at
    the epoch granularity; asserted byte-identical in
    tests/test_admin_streaming.py).

    The batch is packed by ``segments.pack_from_source``, the batch
    build's packer. ``avgdl_hint`` is ignored: packed runs carry no
    block maxima that anything reads, because ``compact_segments``
    recomputes every one under the exact global avgdl."""
    n_docs = batch_df.count()
    if not n_docs:
        return
    attrs = (
        (attr_cols,) if isinstance(attr_cols, str) else tuple(attr_cols or ())
    )
    attrs = tuple(c for c in attrs if c in batch_df.columns)
    packed = seg.pack_from_source(
        batch_df, text_col, "doc_id", variant, docs_per_segment,
        n_docs=n_docs, attr_cols=attrs, positions=positions,
    )
    # one directory per epoch: idempotent on redelivery (exactly-once)
    out = os.path.join(index_root, "segments", f"epoch={epoch_id}")
    packed.write.mode("overwrite").parquet(out)
    # exact epoch stats for the global-avgdl recompute at compaction
    # (sum(dl over epoch docs) == sum(sum_tf over the packed runs)) and
    # the run count that bounds the merge salt
    sum_dl, n_runs = spark.read.parquet(out).agg(
        F.sum("sum_tf"), F.count(F.lit(1))
    ).collect()[0]
    stats = {
        "epoch": int(epoch_id),
        "n_docs": int(n_docs),
        "sum_dl": int(sum_dl or 0),
        "n_runs": int(n_runs),
    }
    write_json(
        os.path.join(index_root, "epoch_stats", f"epoch={epoch_id}.json"), stats
    )


def _epoch_totals(index_root: str) -> tuple[int, int, int]:
    """(n_docs, sum_dl, n_runs) summed over all delivered epochs."""
    d = os.path.join(index_root, "epoch_stats")
    n, s, r = 0, 0, 0
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if not name.endswith(".json"):
            continue
        with open(os.path.join(d, name)) as f:
            row = json.load(f)
        n += int(row["n_docs"])
        s += int(row["sum_dl"])
        r += int(row["n_runs"])
    return n, s, r


def compact_segments(
    spark: SparkSession,
    index_root: str,
    avgdl: float | None = None,
    segs_per_shard: int = 4,
    num_buckets: int = 32,
    docs_per_segment: int = 4096,
):
    """The background-merge analogue: fold all streamed epoch segments
    into a queryable merged index (B5) and return a BuiltIndex.

    ``avgdl=None`` (the default) recomputes the exact global avgdl from
    the per-epoch stats sidecars — post-compaction scoring and block
    maxima always reflect the full streamed collection (round-1
    advisor: avgdl drift).

    The index is replaced through ``sources.io.write_table`` (round-3
    verdict item 3): a re-compaction that shrinks the bucket set leaves
    no stale bucket partition, whatever the session's
    ``partitionOverwriteMode``. stats.json carries ``format_version``,
    and ``load_index`` rejects any other layout.
    """
    from xsearch_spark.plans.build_index import load_index, write_stats

    n_docs, sum_dl, n_runs = _epoch_totals(index_root)
    if avgdl is None:
        avgdl = (sum_dl / n_docs) if n_docs else 0.0
    runs = spark.read.parquet(os.path.join(index_root, "segments"))
    # fused merge+layout (one shuffle) also stamps the global per-term df
    # into every row (v4) — post-compaction queries are driver-stats-free;
    # the sidecars' run count bounds the merge salt (round 7)
    merged = seg.merge_to_index(
        runs.drop("epoch"), avgdl, segs_per_shard, num_buckets,
        n_runs=n_runs or None,
    )
    out = os.path.join(index_root, "index")
    write_table(merged, out, "bucket")
    index_df = spark.read.parquet(out)
    # SELF-DETECT the serveable capabilities from the merged rows (a
    # stats.json that promises filters/phrases the index cannot serve
    # would make those queries silently empty or raise): attr fields =
    # the distinct \x01field: prefixes actually present; positions =
    # any non-empty poss stream. Two tiny limit/distinct jobs at
    # compaction time — zero config to keep in sync with the ingest.
    from xsearch_spark.constants import ATTR_TERM_PREFIX

    # numeric self-detection (round-6 §3.13): a field whose every value
    # part is a 20-digit encoding was packed through num_attr_encode —
    # the same one-job aggregate that finds the field set decides it
    attr_rows = (
        index_df.filter(F.col("term").startswith(ATTR_TERM_PREFIX))
        .select(
            F.substring_index(
                F.expr("substring(term, 2)"), ":", 1
            ).alias("f"),
            F.col("term"),
        )
        .select(
            "f", F.expr("substring(term, length(f) + 3)").alias("v")
        )
        .groupBy("f")
        .agg(
            F.min(
                F.col("v").rlike("^[0-9]{20}$").cast("int")
            ).alias("all_num")
        )
        .collect()
    )
    attr_fields = sorted(r["f"] for r in attr_rows)
    num_attr_fields = sorted(r["f"] for r in attr_rows if r["all_num"] == 1)
    has_positions = bool(
        index_df.filter(F.octet_length("poss") > 0).limit(1).count()
    )
    write_stats(
        index_root, n_docs=n_docs, avgdl=avgdl, sum_dl=sum_dl,
        docs_per_segment=docs_per_segment, segs_per_shard=segs_per_shard,
        num_buckets=num_buckets, attr_fields=attr_fields,
        num_attr_fields=num_attr_fields, positions=has_positions,
    )
    return load_index(spark, index_root)
