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
    reference's background merge goroutine). Each epoch records in a
    tiny sidecar what its packer knew: exact (n_docs, sum_dl, n_runs)
    and the packer's contract (``docs_per_segment``, attr fields, their
    numeric subset, positions). Compaction sums the first (BM25's avgdl
    is collection-global, so it is recomputed from the sums, and the run
    count bounds the merge salt, with no file listing), checks that
    every epoch agrees on the second, and hands both to the batch
    build's publisher (``build_index.publish_index``). Only the merged
    index serves queries; the merge recomputes every block maximum under
    the global avgdl.

No watermarks/session windows: the capability set has no event-time
aggregation (SURVEY.md §2.5 streaming note).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsearch_spark.operators import segments as seg
from xsearch_spark.sources.io import DOCUMENTS_SCHEMA, write_json


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
    Each epoch's sidecar records them with ``docs_per_segment``, and
    ``compact_segments`` publishes the merged index under that recorded
    contract — there is nothing to repeat when compacting.
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
    # and the packer's contract, which compact_segments checks across
    # epochs and hands to the publisher
    stats = {
        "epoch": int(epoch_id),
        "n_docs": int(n_docs),
        "sum_dl": int(sum_dl or 0),
        "n_runs": int(n_runs),
        "docs_per_segment": int(docs_per_segment),
        "attr_fields": list(attrs),
        "num_attr_fields": list(seg.numeric_attr_fields(batch_df.schema, attrs)),
        "positions": bool(positions),
    }
    write_json(
        os.path.join(index_root, "epoch_stats", f"epoch={epoch_id}.json"), stats
    )


# what every epoch must agree on: the packer's contract, recorded in each
# sidecar and handed to the publisher as the merged index's contract
_EPOCH_CONTRACT = ("docs_per_segment", "attr_fields", "num_attr_fields", "positions")


def _epoch_contract(index_root: str, docs_per_segment: int | None) -> dict:
    """The merged index's contract from the epoch sidecars: (n_docs,
    sum_dl, n_runs) summed over all delivered epochs, plus the packer's
    contract, which every epoch must share. Raises if two epochs were
    packed under different contracts, or if ``docs_per_segment`` is
    given and is not the one the epochs were packed with (the query
    path maps doc_id -> shard with it: another value reads the wrong
    shards)."""
    d = os.path.join(index_root, "epoch_stats")
    sums = {"n_docs": 0, "sum_dl": 0, "n_runs": 0}
    packed: dict = {}
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if not name.endswith(".json"):
            continue
        with open(os.path.join(d, name)) as f:
            row = json.load(f)
        for k in sums:
            sums[k] += int(row[k])
        this = {k: row[k] for k in _EPOCH_CONTRACT}
        if packed and this != packed:
            raise ValueError(
                f"epoch sidecar {name} was packed with {this}, earlier "
                f"epochs with {packed}: one index cannot serve both"
            )
        packed = this
    if not packed:
        raise ValueError(f"{index_root} has no delivered epoch to compact")
    if docs_per_segment not in (None, packed["docs_per_segment"]):
        raise ValueError(
            f"compact_segments(docs_per_segment={docs_per_segment}), but "
            f"the epochs were packed with docs_per_segment="
            f"{packed['docs_per_segment']}"
        )
    return {**sums, **packed}


def compact_segments(
    spark: SparkSession,
    index_root: str,
    segs_per_shard: int = 4,
    num_buckets: int = 32,
    docs_per_segment: int | None = None,
):
    """The background-merge analogue: fold all streamed epoch segments
    into a queryable merged index (B5) and return a BuiltIndex.

    The epochs' runs go through the batch build's publisher
    (``build_index.publish_index``) under the contract the epoch
    sidecars recorded: the exact global N and Σdl (so avgdl and every
    block maximum reflect the full streamed collection — round-1
    advisor: avgdl drift), the run count that bounds the merge salt
    (no file listing, no footer read), and the packer's
    ``docs_per_segment``, attr fields, numeric attr fields and
    positions. ``docs_per_segment`` may be omitted; if given it must
    match the epochs'. ``segs_per_shard`` and ``num_buckets`` are the
    merge's own choice.
    """
    from xsearch_spark.plans.build_index import publish_index

    contract = _epoch_contract(index_root, docs_per_segment)
    runs = spark.read.parquet(os.path.join(index_root, "segments")).drop("epoch")
    return publish_index(
        spark, index_root, runs, segs_per_shard=segs_per_shard,
        num_buckets=num_buckets, **contract,
    )
