"""Entry point 3: deletes (S4/S5) and compaction (SURVEY.md §3.3).

Reference parity: xsearch's metad folds deletes in as per-segment
tombstones at merge time; re-adding a key replaces the old doc
(component-level [R]). Spark shape:

  * ``upsert_latest``       — S4: keep the newest commit per (repo, path)
                              (row_number over a per-key window; Iceberg
                              MERGE INTO in prod).
  * ``append_tombstones``   — S5: deleted doc_ids accumulate in a tiny
                              append-only parquet table. Until a
                              compaction folds them in, queries pass them
                              as the scorer's ``tombstones=`` (the one
                              query-time delete path: doc-side rows of
                              the scorer's scan, applied BEFORE the
                              top-k cut).
  * ``compact_incremental`` — purges the tombstoned postings from every
                              run; N, avgdl and df stay frozen until the
                              next full compact.
  * ``compact``             — purges every run, then re-merges the purged
                              runs under the trued-up avgdl.

One purge, one publisher; compaction never re-packs. Both compactions
fold deletes through :func:`purge_tombstoned` (drop the deleted postings
from each ENCODED run, cogrouped with the tombstones on the shard key).
Full compact hands the purged runs to ``build_index.publish_index`` —
the build's own merge → write → open — which recomputes block maxima,
re-stamps df, lays out the buckets and writes the sidecar; incremental
compact writes the purged rows back through ``sources.io.write_table``
with the stats frozen. Either way the folded tombstones are then
cleared.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xsearch_spark.plans.build_index import (
    _paths,
    publish_index,
    read_stats,
    write_stats,
)
from xsearch_spark.sources.io import write_table

_NONE_DELETED = {"n_docs": 0, "sum_dl": 0}


def upsert_latest(
    df: DataFrame,
    key: list[str] | None = None,
    version_col: str = "commit",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """S4: one row per key, newest version wins; optional extra
    descending tie-break columns make the winner deterministic when the
    version column isn't unique per key."""
    key = key or ["repo", "path"]
    order = [F.col(version_col).desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*key).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def tombstone_path(index_root: str) -> str:
    return os.path.join(index_root, "tombstones")


def append_tombstones(spark: SparkSession, index_root: str, doc_ids: list[int]) -> None:
    df = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    df.write.mode("append").parquet(tombstone_path(index_root))


def load_tombstones(spark: SparkSession, index_root: str) -> DataFrame | None:
    p = tombstone_path(index_root)
    if not os.path.isdir(p):
        return None
    return spark.read.parquet(p)


def compact(spark: SparkSession, built) -> None:
    """Fold tombstones into the packed index and refresh the collection
    statistics. Semantics: the compacted index + stats equal a FRESH
    build over the source minus the deleted docs (same doc_ids, same
    geometry), row for row in every column — the post-compact tests
    assert exactly that.

    Steps: measure the deleted docs' (N, Σdl) from the range-overlapping
    rows, then :func:`_compact_full`. Docs already purged by earlier
    incremental compactions still count in the persisted stats — a full
    compact trues them up too, EVEN when no new tombstones exist
    (round-3 advisor: returning early on an empty tombstone table left
    accumulated pending_deleted applied never, so frozen N/avgdl drifted
    permanently).

    Caveat: a doc that tokenized to zero terms has no postings, so its
    deletion cannot adjust (N, avgdl); fresh-build parity holds for any
    doc with at least one token.
    """
    pending = read_stats(built.root).get("pending_deleted", _NONE_DELETED)
    tomb = load_tombstones(spark, built.root)
    has_tomb = tomb is not None and not tomb.isEmpty()
    if not has_tomb and not (int(pending["n_docs"]) or int(pending["sum_dl"])):
        return
    if not has_tomb:
        tomb = spark.createDataFrame([], "doc_id long")
    _compact_full(spark, built, tomb, pending, _measure_deleted(built.index_df, tomb))


def _compact_full(
    spark: SparkSession, built, tomb: DataFrame, pending: dict,
    deleted: tuple[int, int],
) -> None:
    """The full fold, given the tombstones, the sidecar's
    ``pending_deleted`` and the measured (n_docs, Σdl) of the deleted
    docs: purge EVERY run (:func:`purge_tombstoned`) and publish the
    purged runs (``build_index.publish_index``, the build's own merge →
    write → open) under the trued-up N and Σdl, with ``seg_id = shard *
    segs_per_shard`` so each (term, shard) is a single-run group. Because
    avgdl changes, EVERY row's block maxima must be recomputed (a stale
    bound computed under a smaller avgdl can under-estimate and make WAND
    prune a true top-k doc) — the merge always recomputes them, and
    re-stamps each term's global df. The geometry and attr contract are
    the build-time ones persisted in stats.json (round-1 advisor: any
    other geometry scatters a doc's terms across different shard groups —
    silent top-k corruption). The sidecar is rewritten without
    ``pending_deleted``: it is trued up here."""
    from xsearch_spark.constants import ATTR_TERM_PREFIX

    # the merge reads a run's sum_tf only to ask whether it scores
    # (sum_tf > 0, the positional-sync check); index rows do not carry
    # it, and every real posting has tf >= 1 while attr runs have tf = 0
    runs = (
        purge_tombstoned(built.index_df, tomb, built.docs_per_shard, built.avgdl)
        .withColumn("seg_id", F.col("shard") * F.lit(built.segs_per_shard))
        .withColumn(
            "sum_tf",
            F.when(F.col("term").startswith(ATTR_TERM_PREFIX), F.lit(0))
            .otherwise(F.col("n_docs"))
            .cast("long"),
        )
        .select(
            "term", "seg_id", "n_docs", "sum_tf", "first_doc_id",
            "last_doc_id", "doc_ids", "tfs", "dls", "poss",
        )
    )
    new = publish_index(
        spark, built.root, runs,
        n_docs=built.n_docs - deleted[0] - int(pending["n_docs"]),
        sum_dl=built.sum_dl - deleted[1] - int(pending["sum_dl"]),
        n_runs=None, docs_per_segment=built.docs_per_segment,
        segs_per_shard=built.segs_per_shard, num_buckets=built.num_buckets,
        attr_fields=built.attr_fields, num_attr_fields=built.num_attr_fields,
        positions=built.has_positions,
    )
    shutil.rmtree(tombstone_path(built.root), ignore_errors=True)
    built.index_df = new.index_df
    built.n_docs, built.avgdl, built.sum_dl = new.n_docs, new.avgdl, new.sum_dl


def purge_tombstoned(
    rows: DataFrame, tomb: DataFrame, docs_per_shard: int, avgdl: float
) -> DataFrame:
    """Drop the tombstoned postings from encoded index runs — the one
    delete fold, shared by :func:`compact` and :func:`compact_incremental`.

    Tombstones are doc-range keyed, so they cogroup with the index rows
    on the SAME shard key the query path uses — no broadcast of the
    delete set, no full-index decode. A run with no tombstone inside
    [first_doc_id, last_doc_id] passes through untouched (one vectorized
    range test per shard). Only an overlapping run is decoded: its doc
    ids, tfs, dls and positional substreams (v6) are cut with one
    keep-mask and re-encoded, with block metadata recomputed under
    ``avgdl``; a run whose every posting died is dropped. Returns rows in
    the merged index schema (``df`` and ``bucket`` passed through)."""
    import numpy as np
    import pandas as pd

    from xsearch_spark.constants import BLOCK_SIZE
    from xsearch_spark.functions import codec
    from xsearch_spark.operators.segments import (
        MERGED_SCHEMA,
        _bm25_factor,
        _gather_substreams,
    )

    cols = [f.name for f in MERGED_SCHEMA.fields]

    def purge_fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=cols)
        left = left[cols]
        if right.empty:
            return left
        tombs = np.sort(right["doc_id"].to_numpy(np.int64))
        # a run overlaps the delete set iff a tombstone lies in its range
        hit = np.searchsorted(
            tombs, left["first_doc_id"].to_numpy(np.int64)
        ) < np.searchsorted(
            tombs, left["last_doc_id"].to_numpy(np.int64), side="right"
        )
        out = []
        for r in left[hit].itertuples(index=False):
            row = r._asdict()
            ids = codec.decode_doc_ids(r.doc_ids).astype(np.int64)
            pos = np.searchsorted(tombs, ids)
            pos_c = np.minimum(pos, tombs.size - 1)
            keep = ~((pos < tombs.size) & (tombs[pos_c] == ids))
            if keep.all():
                out.append(row)
                continue
            if not keep.any():
                continue  # whole run deleted
            ids_k = ids[keep]
            tfs_full = codec.decode_tfs(r.tfs).astype(np.int64)
            tfs_k = tfs_full[keep]
            dls_k = codec.decode_tfs(r.dls).astype(np.int64)[keep]
            if r.poss:
                # v6: the positional stream is purged with the same
                # keep-mask (kept postings keep their substreams intact)
                flat = codec.decode_tfs(bytes(r.poss)).astype(np.int64)
                row.update(
                    poss=codec.encode_tfs(
                        _gather_substreams(flat, tfs_full, np.nonzero(keep)[0])
                    )
                )
            starts = np.arange(0, ids_k.size, BLOCK_SIZE)
            row.update(
                n_docs=int(ids_k.size),
                first_doc_id=int(ids_k[0]),
                last_doc_id=int(ids_k[-1]),
                doc_ids=codec.encode_doc_ids(ids_k.astype(np.uint64)),
                tfs=codec.encode_tfs(tfs_k),
                dls=codec.encode_tfs(dls_k),
                block_last=ids_k[
                    np.minimum(starts + BLOCK_SIZE - 1, ids_k.size - 1)
                ].astype(np.int64).tolist(),
                block_max=np.maximum.reduceat(
                    _bm25_factor(tfs_k, dls_k, avgdl), starts
                ).tolist(),
            )
            out.append(row)
        if not out:
            return left[~hit]
        return pd.concat(
            [left[~hit], pd.DataFrame(out, columns=cols)], ignore_index=True
        )

    tomb_keyed = tomb.select("doc_id").distinct().withColumn(
        "shard", (F.col("doc_id") / F.lit(docs_per_shard)).cast("long")
    )
    return (
        rows.groupBy("shard")
        .cogroup(tomb_keyed.groupBy("shard"))
        .applyInPandas(purge_fn, MERGED_SCHEMA)
    )


def _measure_deleted(idx: DataFrame, tomb: DataFrame) -> tuple[int, int]:
    """Exact (n_docs, Σdl) of the tombstoned docs that actually have
    postings — measured from only the range-overlapping index rows
    (cheap pruned decode against the broadcast tombstone set)."""
    from xsearch_spark.operators import segments as seg

    t = F.broadcast(tomb.select("doc_id").distinct())

    hit = idx.join(
        t.withColumnRenamed("doc_id", "_td"),
        (F.col("_td") >= F.col("first_doc_id")) & (F.col("_td") <= F.col("last_doc_id")),
        "left_semi",
    )
    deleted = (
        seg.decode_postings(hit)
        .join(t, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .collect()[0]
    )
    return int(deleted["n"] or 0), int(deleted["s"] or 0)


def compact_incremental(
    spark: SparkSession,
    built,
    max_dl_drift: float = 0.01,
) -> str:
    """Bounded-drift compaction (round-3): purge the tombstoned postings
    while leaving collection statistics — N, avgdl, and every row's
    denormalized df — at their pre-delete values until the next full
    :func:`compact`. Returns "incremental", "full" (drift exceeded
    ``max_dl_drift`` -> the full fold ran instead) or "noop".

    Semantics (Lucene's between-merges model: deleted docs keep counting
    in docFreq/avgdl until segments merge): post-compaction queries are
    EXACTLY the pre-delete index queried with the tombstones applied —
    same scores, same ranks, deleted docs gone. That equivalence is the
    test oracle, and it is also why the untouched rows' block maxima
    stay valid WITHOUT recomputation: avgdl is unchanged and purging
    postings can only lower a block's true maximum, so every stored
    bound remains an upper bound (rewritten rows get exact recomputed
    metadata under the same avgdl). A full compact rewrites everything
    under trued-up stats; the dl-mass purged here is accumulated in the
    stats.json ``pending_deleted`` sidecar so that full compact's
    N/avgdl account for docs whose postings are already gone.

    Topology: one :func:`purge_tombstoned` over every index row — a run
    that no tombstone touches passes through unchanged — re-sorted by
    (bucket, term, shard, first_doc_id) so parquet row-group min/max
    term skipping survives incremental folds (round-3 verdict item 4;
    ``bucket`` leads so the partitioned writer's required ordering is
    already met and it injects no sort of its own), then one table
    write and the sidecar with the grown ``pending_deleted``.
    """
    tomb = load_tombstones(spark, built.root)
    if tomb is None or tomb.isEmpty():
        return "noop"
    n_deleted, dl_deleted = _measure_deleted(built.index_df, tomb)
    sidecar = read_stats(built.root)
    pend = sidecar.get("pending_deleted", _NONE_DELETED)
    # the drift gate bounds TOTAL frozen-stats drift, so it must include
    # the dl mass already purged by earlier incremental passes (round-3
    # advisor: gating on the current batch alone let many small delete
    # batches accumulate unbounded pending drift without escalating)
    if (
        built.sum_dl
        and (int(pend["sum_dl"]) + dl_deleted) / built.sum_dl > max_dl_drift
    ):
        _compact_full(spark, built, tomb, pend, (n_deleted, dl_deleted))
        return "full"

    # same avgdl as the rest of the index: stats are frozen until the
    # full compact, so the rewritten rows' bounds stay exact
    rows = (
        purge_tombstoned(built.index_df, tomb, built.docs_per_shard, built.avgdl)
        .repartition("bucket")
        .sortWithinPartitions("bucket", "term", "shard", "first_doc_id")
    )
    sidecar["pending_deleted"] = {
        "n_docs": int(pend["n_docs"]) + n_deleted,
        "sum_dl": int(pend["sum_dl"]) + dl_deleted,
    }
    # N/avgdl/df deliberately unchanged (frozen-stats semantics); a
    # bucket whose rows all died disappears instead of surviving as a
    # stale partition (round-1 advisor)
    path = _paths(built.root)["index"]
    write_table(rows, path, "bucket")
    write_stats(built.root, **sidecar)
    shutil.rmtree(tombstone_path(built.root), ignore_errors=True)
    built.index_df = spark.read.parquet(path)
    return "incremental"
