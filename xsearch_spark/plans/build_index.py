"""Entry point 1: the full index-build pipeline (SURVEY.md §3.1),
checkpointed with per-partition lineage (B8), and the one index
publisher every merged index leaves through.

One flow (:func:`build_index`): if the index manifest matches these
inputs, open the index; otherwise

  1. get the packed runs — ONE pass of tokenize (A1/A2) + B1 tf + B2 dl
     + B4/B6 packing in a single Arrow UDF over doc-range partitions
     (``operators.segments.pack_from_source``). They wait either in
     ``segments/`` parquet partitioned by seg_group (the staged default;
     resume = re-pack only the seg_groups missing from the ``segments``
     manifest, the universe of groups derives from dense doc_ids, no
     scan) or cached in the cluster (``fused_merge=True``);
  2. publish them (:func:`publish_index`): B5 salted merge -> (term,
     shard) runs with real B7 block maxima, each term's global df and
     the term-hash ``bucket`` partition column -> index table +
     ``stats.json`` (N, avgdl = Σdl / N with Σdl = Σ of the runs'
     sum_tf, geometry, attr fields, positions) -> ``BuiltIndex``;
  3. write the index manifest (per-bucket rows from the file footers,
     run/posting totals) and the progress event.

Scale notes: every stage is one shuffle; nothing collects to the driver
except the run totals and per-partition manifest rows. The ``bucket``
layout gives Q2 dictionary lookups static partition pruning; ``shard``
bounds per-row posting size and parallelizes hot-term work at both
merge and query time.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xsearch_spark.operators import segments as seg
from xsearch_spark.plans import checkpoints as ckpt
from xsearch_spark.sources.io import write_json, write_table

DEFAULT_NUM_BUCKETS = 64
SEGS_PER_GROUP = 8  # seg_group = seg_id // SEGS_PER_GROUP: resume + layout unit
INDEX_FORMAT_VERSION = 6  # bump on any on-disk layout/codec change:
# invalidates pre-existing checkpoints so a resume never mixes formats
# (v3: md5-based bucket layout — see functions/buckets.py;
#  v4: global per-term df denormalized into every index row at merge
#  time — warm queries read idf inputs from the pruned scan, the driver
#  never collects the term dictionary;
#  v5: per-doc attributes indexed as synthetic posting lists
#  (constants.ATTR_TERM_PREFIX, tf=0/dl=0/df=0) — a lang: filter is a
#  bucket-pruned index read, never a per-query source scan+shuffle;
#  v6: every row carries a ``poss`` varint positional stream (b"" when
#  built without positions=True) — phrase-query adjacency reads it
#  through the same pruned scan)


@dataclass
class BuiltIndex:
    root: str
    index_df: DataFrame  # merged (term, shard) runs with bucket column
    n_docs: int
    avgdl: float
    num_buckets: int
    # build-time geometry: doc-range mapping doc_id -> seg_id -> shard.
    # compact() MUST re-merge with exactly these values or purged rows
    # land in different shard groups than the doc ranges they hold
    # (silent top-k corruption — found by the round-1 advisor).
    docs_per_segment: int = seg.DEFAULT_DOCS_PER_SEGMENT
    segs_per_shard: int = seg.DEFAULT_SEGS_PER_SHARD
    sum_dl: int = 0  # exact Σdl over all docs (avgdl = sum_dl / n_docs)
    # attribute fields indexed as synthetic posting lists — queries on
    # these fields never touch the source table
    attr_fields: tuple[str, ...] = ()
    # True iff every (term, shard) key is unique — guaranteed by every
    # index opened through load_index (publish_index merges through
    # merge_to_index). wand's single-term zero-exchange fast
    # path is gated on this: a hand-assembled UNION of indexes can
    # legally repeat keys, and the fast path scores runs wherever the
    # scan read them, bypassing _assemble_shard's repeated-key guard
    # (round-4 advisor). Defaults False so ad-hoc BuiltIndex wrappers
    # take the guarded shuffled path.
    unique_term_shard: bool = False
    # rows carry the positional stream (phrase queries allowed)
    has_positions: bool = False
    # round-6 §3.13: the subset of attr_fields whose values are
    # order-preserving-encoded int64s — range filters and sort-by-field
    # are only servable on these (and equality filters must encode)
    num_attr_fields: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        # the one layout check: every producer writes through
        # segments.merge_to_index, which stamps the global df and the
        # positional stream on every row; the query paths assume both
        missing = [c for c in ("df", "poss") if c not in self.index_df.columns]
        if missing:
            raise ValueError(
                f"index rows lack {', '.join(missing)}: not index layout "
                f"v{INDEX_FORMAT_VERSION} — rebuild the index"
            )

    def has_attr(self, fld: str) -> bool:
        return fld in self.attr_fields

    def has_num_attr(self, fld: str) -> bool:
        return fld in self.num_attr_fields

    @property
    def docs_per_shard(self) -> int:
        return self.docs_per_segment * self.segs_per_shard


def _paths(root: str) -> dict[str, str]:
    return {
        "postings": os.path.join(root, "postings"),
        "segments": os.path.join(root, "segments"),
        "index": os.path.join(root, "index"),
        "stats": os.path.join(root, "stats.json"),
    }


def _fingerprint(*parts: object) -> str:
    return hashlib.sha256("|".join(str(p) for p in parts).encode()).hexdigest()[:16]


def write_stats(root: str, **stats: object) -> None:
    """Write the stats.json sidecar (N, avgdl, Σdl, build geometry, the
    serveable attr fields and positions) stamped with
    ``INDEX_FORMAT_VERSION`` — the one writer, shared by every index
    producer and the compactions. Written through ``write_json``, so a
    reader never sees a torn file."""
    write_json(
        _paths(root)["stats"], {**stats, "format_version": INDEX_FORMAT_VERSION}
    )


def read_stats(root: str) -> dict:
    """The stats.json sidecar of an index root — the one reader. Raises
    unless it was written for this code's ``INDEX_FORMAT_VERSION``, so no
    query ever runs over a layout the code does not serve."""
    path = _paths(root)["stats"]
    with open(path) as f:
        stats = json.load(f)
    version = stats.get("format_version")
    if version != INDEX_FORMAT_VERSION:
        found = "no format_version" if version is None else f"format_version {version}"
        raise ValueError(
            f"{path} has {found}; this code serves only index layout "
            f"v{INDEX_FORMAT_VERSION} — rebuild the index"
        )
    return stats


def _partition_rows_parquet(path: str, key: str) -> dict[str, dict]:
    """Per-partition row counts of a freshly written partitionBy(key)
    parquet dir, read from the file FOOTERS driver-side (round 7): the
    manifest bookkeeping previously re-scanned the index with a Spark
    groupBy job right after writing it — footer metadata answers the
    same question with zero jobs and no data read."""
    import glob as _glob

    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for d in _glob.glob(os.path.join(path, f"{key}=*")):
        val = os.path.basename(d).split("=", 1)[1]
        n = 0
        for f in _glob.glob(os.path.join(d, "*.parquet")):
            n += pq.ParquetFile(f).metadata.num_rows
        out[val] = {"rows": int(n)}
    return out


def checkpoint_source_ids(
    spark: SparkSession,
    source_df: DataFrame,
    out_dir: str,
    num_buckets: int | None = None,
    fingerprint: str = "",
) -> tuple[DataFrame, int]:
    """Stage 0 (B8 resume anchor + fixed-cost cut): assign doc_ids and
    materialize the id-keyed source ONCE.

    Without this, every consumer of the assigned ids (the pack pass, each
    source-lang query's doc-side rows, the resume range filter) re-runs
    the id assignment — a full window shuffle per consumer.
    Materializing turns those into parquet scans. The row count is the
    one ``assign_doc_ids_scalable`` takes to size its id buckets (on a
    resume, the manifest's), so the checkpoint costs no count of its
    own. Everything downstream depends on the id mapping, so this is
    also the natural resume anchor (SURVEY.md §8 open item 2).
    """
    from xsearch_spark.sources.ids import assign_doc_ids_scalable

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "source")
    fp = _fingerprint("source_ids", fingerprint, INDEX_FORMAT_VERSION)
    m = ckpt.load_manifest(out_dir, "source_ids")
    if not (m and m.input_fingerprint == fp and m.status == "done" and os.path.isdir(path)):
        with ckpt.StageTimer() as t:
            # 4x-cores id buckets (clamped to MIN_BUCKET_DOCS rows each)
            # -> at scale the checkpoint lands as many contiguous
            # doc-range files, which pack_from_source scans with NO
            # exchange; a one-bucket input lands as one file, which it
            # exchanges by segment or doc range (see
            # segments.pack_from_source)
            ids, n = assign_doc_ids_scalable(
                source_df, num_buckets or spark.sparkContext.defaultParallelism * 4
            )
            # round 7: AQE coalesces the window's hash(_bk) exchange, and
            # a coalesced partition concatenates id buckets in HASH order
            # — without this sort the checkpoint files interleave doc
            # ranges, the packer emits ~20x fragmented overlapping
            # partial runs, and 40%+ of merge groups fall onto the
            # interleaved k-way-sort path (measured at sf0.1). Sorting by
            # doc_id within partitions (no exchange) restores the
            # monotone doc-range file layout the packer's no-exchange
            # scan depends on; the merged index is byte-identical.
            ids.sortWithinPartitions("doc_id").write.mode("overwrite").parquet(path)
        m = ckpt.StageManifest("source_ids", fp, "done", t.wall_ms)
        m.rows_out = n
        m.completed_at = time.time()
        ckpt.save_manifest(out_dir, m)
        # the schema just written: no footer-reading inference job
        return spark.read.schema(ids.schema).parquet(path), n
    return spark.read.parquet(path), int(m.rows_out)


def build_index(
    spark: SparkSession,
    source_df: DataFrame,
    out_dir: str,
    text_col: str = "content",
    doc_id_col: str = "doc_id",
    variant: str = "code",
    docs_per_segment: int = seg.DEFAULT_DOCS_PER_SEGMENT,
    segs_per_shard: int = seg.DEFAULT_SEGS_PER_SHARD,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    segs_per_group: int = SEGS_PER_GROUP,
    n_docs: int | None = None,
    fused_merge: bool = False,
    attr_cols: "str | tuple[str, ...] | list[str] | None" = "lang",
    positions: bool = False,
) -> BuiltIndex:
    """Build the packed index in one flow: open it if it is already done
    for these inputs; otherwise get the packed runs, publish them
    (:func:`publish_index`), then write the index manifest and the
    progress event. ``fused_merge`` only picks where the runs wait:

    * ``False`` (default): in ``segments/`` parquet, partitioned by
      seg_group with one manifest row per group — the per-partition
      resume unit: a lost task or driver re-tokenizes only the missing
      seg_groups.
    * ``True``: cached in the cluster, in one lineage with the merge —
      no segments parquet round trip (the write + read-back was ~1/3 of
      build wall at sf0.1). Resume granularity coarsens to {ids
      checkpoint, finished index}.

    Both publish byte-identical indexes, and the index manifest carries
    the same fields either way: per-bucket rows, ``rows_out`` (index
    rows) and ``_totals`` (packed runs, postings and Σtf).

    ``attr_cols`` (v5; a string or a sequence, default "lang"; fields
    missing from the source are dropped): index the per-doc attributes
    as synthetic posting lists so attribute filters (``lang:``,
    ``source:``, license/domain on a real corpus) are pruned index
    reads at query time.
    """
    from pyspark import StorageLevel

    os.makedirs(out_dir, exist_ok=True)
    attrs: tuple[str, ...] = (
        (attr_cols,) if isinstance(attr_cols, str) else tuple(attr_cols or ())
    )
    attrs = tuple(c for c in attrs if c in source_df.columns)
    fp = _fingerprint(
        text_col, variant, docs_per_segment, segs_per_shard, num_buckets,
        segs_per_group, INDEX_FORMAT_VERSION, attrs, positions,
    )
    t_start = time.monotonic()
    index_path = _paths(out_dir)["index"]
    if ckpt.stage_done(out_dir, "index", fp) and os.path.exists(_paths(out_dir)["stats"]):
        built = load_index(spark, out_dir)
    else:
        if n_docs is None:
            # callers that know the row count (parquet metadata) pass it
            # in; otherwise this is the only full-input driver job
            n_docs = source_df.count()

        def pack(df: DataFrame, n: int) -> DataFrame:
            # one pass: tokenize (A1/A2) + tf (B1) + dl (B2) + packing
            return seg.pack_from_source(
                df, text_col, doc_id_col, variant, docs_per_segment,
                n_docs=n, attr_cols=attrs, positions=positions,
            )

        with ckpt.StageTimer() as t:
            if fused_merge:
                runs = pack(source_df, n_docs).persist(StorageLevel.MEMORY_AND_DISK)
                # one aggregate over the cached runs; tokenization runs once
                row = runs.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("n_docs").alias("postings"),
                    F.sum("sum_tf").alias("sum_tf"),
                ).collect()[0]
                totals = {k: int(row[k] or 0) for k in ("rows", "postings", "sum_tf")}
            else:
                runs, totals = _segment_runs(
                    spark, source_df, out_dir, _fingerprint("segments", fp),
                    pack, n_docs, doc_id_col, docs_per_segment, segs_per_group,
                )
            # sum(dl over all docs) == sum(tf over postings): avgdl is
            # exact with no second tokenizer pass and no decode
            built = publish_index(
                spark, out_dir, runs, n_docs=n_docs, sum_dl=totals["sum_tf"],
                n_runs=totals["rows"], docs_per_segment=docs_per_segment,
                segs_per_shard=segs_per_shard, num_buckets=num_buckets,
                attr_fields=attrs,
                num_attr_fields=seg.numeric_attr_fields(source_df.schema, attrs),
                positions=positions,
            )
            runs.unpersist()
        m = ckpt.StageManifest("index", fp, "done", t.wall_ms)
        m.partitions = _partition_rows_parquet(index_path, "bucket")
        m.rows_out = sum(p["rows"] for p in m.partitions.values())
        m.partitions["_totals"] = totals
        m.completed_at = time.time()
        ckpt.save_manifest(out_dir, m)

    ckpt.progress_event(
        out_dir,
        {
            "event": "index_built",
            "out_dir": out_dir,
            "n_docs": built.n_docs,
            "wall_s": time.monotonic() - t_start,
        },
    )
    return built


def _segment_runs(
    spark: SparkSession,
    source_df: DataFrame,
    out_dir: str,
    fp: str,
    pack,
    n_docs: int,
    doc_id_col: str,
    docs_per_segment: int,
    segs_per_group: int,
) -> tuple[DataFrame, dict]:
    """The staged build's runs: packed into ``segments/`` partitioned by
    seg_group, with one ``segments`` manifest row per group. Only the
    groups missing from the manifest are packed — the universe of groups
    derives from dense doc_ids 0..N-1 (S2 invariant), no data scan.
    Returns the runs read back and their totals (rows, postings, Σtf)."""
    path = _paths(out_dir)["segments"]
    docs_per_group = docs_per_segment * segs_per_group
    m = ckpt.load_manifest(out_dir, "segments")
    if m is None or m.input_fingerprint != fp:
        m = ckpt.StageManifest("segments", fp)
    all_groups = {str(g) for g in range(-(-n_docs // docs_per_group))}
    done_groups = set(m.partitions)
    missing = sorted(all_groups - done_groups, key=int)
    if missing:
        with ckpt.StageTimer() as t:
            todo = source_df
            if done_groups:  # resume: re-tokenize only the lost doc ranges
                todo = todo.filter(
                    (F.col(doc_id_col) / F.lit(docs_per_group))
                    .cast("long")
                    .isin([int(g) for g in missing])
                )
            # a resume overwrites dynamically, for this write only: just
            # the seg_group partitions in `packed` are replaced and the
            # completed ones stay untouched (resume unit). Any other
            # build replaces the whole directory, so no group of an
            # earlier build with another geometry survives to be merged.
            # subsplit the write so a group isn't funneled through one
            # task (at sf0.1 there are only ~4 groups but ~200 MB of
            # packed runs; 8 files per group keeps the write parallel)
            pack(
                todo, len(missing) * docs_per_group if done_groups else n_docs
            ).withColumn(
                "seg_group", (F.col("seg_id") / F.lit(segs_per_group)).cast("long")
            ).repartition(
                F.col("seg_group"), F.pmod(F.xxhash64("term"), F.lit(8))
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic" if done_groups else "static"
            ).partitionBy("seg_group").parquet(path)
        # one small-table agg yields the lineage rows of the new groups
        for r in (
            spark.read.parquet(path)
            .filter(F.col("seg_group").isin([int(g) for g in missing]))
            .groupBy("seg_group")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_docs").alias("postings"),
                F.sum("sum_tf").alias("sum_tf"),
            )
            .collect()
        ):
            m.partitions[str(r["seg_group"])] = {
                "rows": int(r["rows"]),
                "postings": int(r["postings"]),
                "sum_tf": int(r["sum_tf"]),
                "wall_ms_batch": t.wall_ms,
            }
        m.wall_ms += t.wall_ms
        m.rows_out = sum(p["rows"] for p in m.partitions.values())
        m.status = "done"
        m.completed_at = time.time()
        ckpt.save_manifest(out_dir, m)
    totals = {
        k: sum(p[k] for p in m.partitions.values())
        for k in ("rows", "postings", "sum_tf")
    }
    return spark.read.parquet(path).drop("seg_group"), totals


def publish_index(
    spark: SparkSession,
    out_dir: str,
    runs: DataFrame,
    *,
    n_docs: int,
    sum_dl: int,
    n_runs: int | None,
    docs_per_segment: int,
    segs_per_shard: int,
    num_buckets: int,
    attr_fields: "tuple[str, ...] | list[str]",
    num_attr_fields: "tuple[str, ...] | list[str]",
    positions: bool,
) -> BuiltIndex:
    """The one index publisher: packed runs plus the index contract ->
    merged table + stats.json -> BuiltIndex. Every merged index leaves
    through here — the staged and fused builds, the streaming compactor
    and full compact.

    The contract is what the runs were packed under and what the index
    promises its queries: N, Σdl and the run count; the geometry
    (``docs_per_segment`` maps doc_id -> seg_id at pack time,
    ``segs_per_shard`` seg_id -> shard at merge time, ``num_buckets`` the
    term -> bucket layout); the attr fields, their numeric subset and
    whether the rows carry positions. ``segments.merge_to_index``
    recomputes every block maximum under avgdl = Σdl / N and stamps each
    term's global df (``n_runs`` bounds the merge salt; None when
    unknown); the table is replaced through ``sources.io.write_table``
    and the sidecar through :func:`write_stats`, and the index opens
    through :func:`load_index`. Writes no manifest: bookkeeping is the
    caller's."""
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    write_table(
        seg.merge_to_index(runs, avgdl, segs_per_shard, num_buckets, n_runs=n_runs),
        _paths(out_dir)["index"],
        "bucket",
    )
    write_stats(
        out_dir, n_docs=n_docs, avgdl=avgdl, sum_dl=sum_dl,
        docs_per_segment=docs_per_segment, segs_per_shard=segs_per_shard,
        num_buckets=num_buckets, attr_fields=list(attr_fields),
        num_attr_fields=list(num_attr_fields), positions=positions,
    )
    return load_index(spark, out_dir)


def load_index(spark: SparkSession, out_dir: str) -> BuiltIndex:
    """Open a built index from its root: the stats.json sidecar (checked
    by :func:`read_stats`) plus the index parquet. Every producer returns
    its BuiltIndex through here."""
    stats = read_stats(out_dir)
    return BuiltIndex(
        out_dir,
        spark.read.parquet(_paths(out_dir)["index"]),
        int(stats["n_docs"]),
        float(stats["avgdl"]),
        int(stats["num_buckets"]),
        docs_per_segment=int(stats["docs_per_segment"]),
        segs_per_shard=int(stats["segs_per_shard"]),
        sum_dl=int(stats["sum_dl"]),
        attr_fields=tuple(stats["attr_fields"]),
        num_attr_fields=tuple(stats["num_attr_fields"]),
        unique_term_shard=True,
        has_positions=bool(stats["positions"]),
    )
