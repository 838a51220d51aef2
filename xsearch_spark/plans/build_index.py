"""Entry point 1: the full index-build pipeline (SURVEY.md §3.1),
checkpointed per stage with per-partition lineage (B8).

Stages (each persisted + manifested; a re-run skips completed stages and
rebuilds only missing segment partitions):

  1. ``segments``  — ONE pass: tokenize (A1/A2) + B1 tf + B2 dl + B4/B6
                     packing fused in a single Arrow UDF over doc-range
                     partitions (see operators.segments.pack_from_source)
                     -> packed per-(seg_id, term) runs written
                     partitionBy(seg_group); resume = rebuild only the
                     seg_groups missing from the manifest (a per-write
                     dynamic partition overwrite; the universe of groups
                     derives from dense doc_ids, no scan). A build that
                     is not a resume replaces the whole directory.
                     avgdl comes from the runs' sum_tf column.
  2. ``index``     — B5 salted merge -> (term, shard) runs (+ real B7
                     block maxima) + term-hash ``bucket`` partition
                     column for query-time pruning.
  3. ``stats``     — term df (sum of run n_docs — no postings re-scan),
                     N/avgdl sidecar JSON.

Scale notes: every stage is one shuffle; nothing collects to the driver
except the (N, avgdl) scalars and per-partition manifest rows. The
``bucket`` layout gives Q2 dictionary lookups static partition pruning;
``shard`` bounds per-row posting size and parallelizes hot-term work at
both merge and query time.
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
    # True iff every (term, shard) key is unique — guaranteed by all
    # merge_to_index-routed producers (build_index, load_index,
    # streaming.compact_segments). wand's single-term zero-exchange fast
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
    lang-filtered query's cogroup side, the resume range filter) re-runs
    the two-pass zipWithIndex topology — a full window shuffle per
    consumer. Materializing turns those into parquet scans, and the row
    count comes back from the manifest with no extra job. Everything
    downstream depends on the id mapping, so this is also the natural
    resume anchor (SURVEY.md §8 open item 2).
    """
    from xsearch_spark.sources.ids import assign_doc_ids_scalable

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "source")
    fp = _fingerprint("source_ids", fingerprint, INDEX_FORMAT_VERSION)
    m = ckpt.load_manifest(out_dir, "source_ids")
    if not (m and m.input_fingerprint == fp and m.status == "done" and os.path.isdir(path)):
        with ckpt.StageTimer() as t:
            # 4x-cores id buckets -> the checkpoint lands as many small
            # contiguous doc-range files, which lets pack_from_source
            # scan them with NO exchange (see segments.pack_from_source)
            ids = assign_doc_ids_scalable(
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
        df = spark.read.parquet(path)
        n = df.count()
        m = ckpt.StageManifest("source_ids", fp, "done", t.wall_ms)
        m.rows_out = n
        m.completed_at = time.time()
        ckpt.save_manifest(out_dir, m)
    else:
        df = spark.read.parquet(path)
        n = int(m.rows_out)
    return df, n


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
    source_fingerprint: str | None = None,
    n_docs: int | None = None,
    fused_merge: bool = False,
    attr_cols: "str | tuple[str, ...] | list[str] | None" = "lang",
    positions: bool = False,
) -> BuiltIndex:
    """Build the packed index. Two build topologies:

    * ``fused_merge=False`` (staged, default): pack -> durable segments
      parquet (+ per-seg_group manifests, the fine-grained resume unit)
      -> merge -> index. A lost task or driver re-tokenizes only missing
      seg_groups.
    * ``fused_merge=True``: pack -> cluster-cached runs -> merge -> index
      in ONE lineage, no segments parquet round-trip (the write + read-
      back + manifest agg was ~1/3 of build wall at sf0.1). avgdl comes
      from one aggregate over the cached runs, so tokenization still runs
      exactly once. Resume granularity coarsens to {ids checkpoint,
      finished index} — choose this for throughput when the cluster can
      cache the packed runs (they are index-sized), the staged path when
      per-partition resumability matters more.

    ``attr_cols`` (v5; a string or a sequence, default "lang"; fields
    missing from the source are dropped): index the per-doc attributes
    as synthetic posting lists so attribute filters (``lang:``,
    ``source:``, license/domain on a real corpus) are pruned index
    reads at query time.
    """
    paths = _paths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    attrs: tuple[str, ...] = (
        (attr_cols,) if isinstance(attr_cols, str) else tuple(attr_cols or ())
    )
    attrs = tuple(c for c in attrs if c in source_df.columns)
    # round-6 §3.13: classify integer attr columns ONCE from the schema;
    # the classification is part of the index contract (stats.json)
    num_attrs = seg.numeric_attr_fields(source_df.schema, attrs)
    fp_base = _fingerprint(
        source_fingerprint
        or _fingerprint(text_col, variant, docs_per_segment, segs_per_shard, num_buckets, segs_per_group),
        INDEX_FORMAT_VERSION,
        attrs,
        positions,
    )
    t_start = time.monotonic()

    if fused_merge:
        return _build_index_fused(
            spark, source_df, out_dir, paths, fp_base, text_col, doc_id_col,
            variant, docs_per_segment, segs_per_shard, num_buckets, n_docs, t_start,
            attrs, positions,
        )

    # ---- stage 1+2 fused: docs -> packed segments in ONE pass ------------
    # (xsearch's own topology: a shard tokenizes into its in-memory
    # segment map and flushes packed — no long-postings materialization.)
    # Resume unit: seg_group, derivable WITHOUT a data scan because
    # doc_ids are dense 0..N-1 (S2 invariant).
    fp2 = _fingerprint("segments", fp_base)
    m2 = ckpt.load_manifest(out_dir, "segments")
    if n_docs is None and (
        m2 is not None
        and m2.input_fingerprint == fp2
        and m2.status == "done"
        and os.path.exists(paths["stats"])
    ):
        n_docs = int(read_stats(out_dir)["n_docs"])  # checkpointed: no job
    if n_docs is None:
        # callers that know the row count (parquet metadata) pass it in;
        # otherwise this is the only full-input driver job
        n_docs = source_df.count()
    docs_per_group = docs_per_segment * segs_per_group
    all_groups = {str(g) for g in range((n_docs + docs_per_group - 1) // docs_per_group)}
    done_groups = set(m2.partitions) if m2 and m2.input_fingerprint == fp2 else set()
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
            packed = seg.pack_from_source(
                todo, text_col, doc_id_col, variant, docs_per_segment,
                n_docs=len(missing) * docs_per_group if done_groups else n_docs,
                attr_cols=attrs, positions=positions,
            ).withColumn(
                "seg_group", (F.col("seg_id") / F.lit(segs_per_group)).cast("long")
            )
            # a resume overwrites dynamically, for this write only: just
            # the seg_group partitions in `packed` are replaced and the
            # completed ones stay untouched (resume unit). Any other
            # build replaces the whole directory, so no group of an
            # earlier build with another geometry survives to be merged.
            # subsplit the write so a group isn't funneled through one
            # task (at sf0.1 there are only ~4 groups but ~200 MB of
            # packed runs; 8 files per group keeps the write parallel)
            packed.repartition(
                F.col("seg_group"), F.pmod(F.xxhash64("term"), F.lit(8))
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic" if done_groups else "static"
            ).partitionBy("seg_group").parquet(paths["segments"])
        seg_df = spark.read.parquet(paths["segments"])
        # one small-table agg yields lineage rows AND the avgdl input
        parts = {
            str(r["seg_group"]): {
                "rows": int(r["rows"]),
                "postings": int(r["postings"]),
                "sum_tf": int(r["s"]),
            }
            for r in seg_df.groupBy("seg_group")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_docs").alias("postings"),
                F.sum("sum_tf").alias("s"),
            )
            .collect()
        }
        if m2 is None or m2.input_fingerprint != fp2:
            m2 = ckpt.StageManifest("segments", fp2)
        for k, v in parts.items():
            if k in m2.partitions and k not in missing:
                continue  # untouched group: keep its original lineage row
            v["wall_ms_batch"] = t.wall_ms
            m2.partitions[k] = v
        m2.wall_ms += t.wall_ms
        m2.rows_out = sum(p["rows"] for p in m2.partitions.values())
        m2.status = "done"
        m2.completed_at = time.time()
        ckpt.save_manifest(out_dir, m2)
        # sum(dl over all docs) == sum(tf over postings): avgdl is exact
        # with no second tokenizer pass and no decode
        sum_dl = sum(p["sum_tf"] for p in m2.partitions.values())
        # geometry persisted so compact()/load_index rebuild with the
        # exact build-time doc->seg->shard mapping
        write_stats(
            out_dir, n_docs=n_docs, avgdl=(sum_dl / n_docs) if n_docs else 0.0,
            sum_dl=sum_dl, docs_per_segment=docs_per_segment,
            segs_per_shard=segs_per_shard, num_buckets=num_buckets,
            attr_fields=list(attrs), num_attr_fields=list(num_attrs),
            positions=positions,
        )
    sidecar = read_stats(out_dir)
    n_docs, avgdl = int(sidecar["n_docs"]), float(sidecar["avgdl"])
    seg_df = spark.read.parquet(paths["segments"])

    # ---- stage 3: salted merge -> final index ----------------------------
    fp3 = _fingerprint("index", fp2)
    if ckpt.stage_done(out_dir, "index", fp3) is None:
        with ckpt.StageTimer() as t:
            # merge fused with the bucket layout (same topology as the
            # fused build): ONE shuffle, rows leave the UDF already
            # bucket-partitioned + term-sorted (parquet row-group min/max
            # on `term` skip within each bucket file) and carrying the
            # denormalized global df (v4)
            merged = seg.merge_to_index(
                seg_df.drop("seg_group"), avgdl, segs_per_shard, num_buckets,
                n_runs=int(m2.rows_out) if m2 and m2.rows_out else None,
            )
            write_table(merged, paths["index"], "bucket")
        m3 = ckpt.StageManifest("index", fp3, "done", t.wall_ms)
        m3.partitions = _partition_rows_parquet(paths["index"], "bucket")
        m3.rows_out = sum(p["rows"] for p in m3.partitions.values())
        m3.completed_at = time.time()
        ckpt.save_manifest(out_dir, m3)

    ckpt.progress_event(
        out_dir,
        {
            "event": "index_built",
            "out_dir": out_dir,
            "n_docs": n_docs,
            "wall_s": time.monotonic() - t_start,
        },
    )
    return load_index(spark, out_dir)


def _build_index_fused(
    spark: SparkSession,
    source_df: DataFrame,
    out_dir: str,
    paths: dict[str, str],
    fp_base: str,
    text_col: str,
    doc_id_col: str,
    variant: str,
    docs_per_segment: int,
    segs_per_shard: int,
    num_buckets: int,
    n_docs: int | None,
    t_start: float,
    attrs: tuple[str, ...] = (),
    positions: bool = False,
) -> BuiltIndex:
    """One-lineage build: tokenize+pack (Arrow UDF) -> cached runs ->
    salted merge -> index write. See :func:`build_index` docstring."""
    from pyspark import StorageLevel

    num_attrs = seg.numeric_attr_fields(source_df.schema, attrs)
    fpF = _fingerprint("fused_index", fp_base)
    if ckpt.stage_done(out_dir, "index", fpF) is None or not os.path.exists(paths["stats"]):
        if n_docs is None:
            n_docs = source_df.count()
        with ckpt.StageTimer() as t:
            packed = seg.pack_from_source(
                source_df, text_col, doc_id_col, variant, docs_per_segment,
                n_docs=n_docs, attr_cols=attrs, positions=positions,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            # one aggregate over the cached runs yields the exact avgdl
            # (sum of dl over docs == sum of tf over postings) and the
            # lineage totals; tokenization runs exactly once
            row = packed.agg(
                F.sum("sum_tf").alias("s"),
                F.sum("n_docs").alias("postings"),
                F.count(F.lit(1)).alias("runs"),
            ).collect()[0]
            sum_dl = int(row["s"] or 0)
            avgdl = (sum_dl / n_docs) if n_docs else 0.0
            # merge fused with the bucket layout: rows leave the merge UDF
            # already bucket-partitioned and term-sorted -> direct write,
            # no second exchange (see segments.merge_to_index)
            merged = seg.merge_to_index(
                packed, avgdl, segs_per_shard, num_buckets,
                n_runs=int(row["runs"]),
            )
            write_table(merged, paths["index"], "bucket")
            packed.unpersist()
        m = ckpt.StageManifest("index", fpF, "done", t.wall_ms)
        m.partitions = _partition_rows_parquet(paths["index"], "bucket")
        m.partitions["_totals"] = {
            "rows": int(row["runs"]),
            "postings": int(row["postings"]),
            "sum_tf": sum_dl,
        }
        m.rows_out = sum(
            p["rows"] for k, p in m.partitions.items() if k != "_totals"
        )
        m.completed_at = time.time()
        ckpt.save_manifest(out_dir, m)
        write_stats(
            out_dir, n_docs=n_docs, avgdl=avgdl, sum_dl=sum_dl,
            docs_per_segment=docs_per_segment, segs_per_shard=segs_per_shard,
            num_buckets=num_buckets, attr_fields=list(attrs),
            num_attr_fields=list(num_attrs), positions=positions,
        )
    built = load_index(spark, out_dir)

    ckpt.progress_event(
        out_dir,
        {
            "event": "index_built",
            "out_dir": out_dir,
            "n_docs": built.n_docs,
            "fused": True,
            "wall_s": time.monotonic() - t_start,
        },
    )
    return built


def load_index(spark: SparkSession, out_dir: str, num_buckets: int | None = None) -> BuiltIndex:
    """Open a built index from its root: the stats.json sidecar (checked
    by :func:`read_stats`) plus the index parquet. Every producer returns
    its BuiltIndex through here."""
    stats = read_stats(out_dir)
    return BuiltIndex(
        out_dir,
        spark.read.parquet(_paths(out_dir)["index"]),
        int(stats["n_docs"]),
        float(stats["avgdl"]),
        num_buckets or int(stats["num_buckets"]),
        docs_per_segment=int(stats["docs_per_segment"]),
        segs_per_shard=int(stats["segs_per_shard"]),
        sum_dl=int(stats["sum_dl"]),
        attr_fields=tuple(stats["attr_fields"]),
        num_attr_fields=tuple(stats["num_attr_fields"]),
        unique_term_shard=True,
        has_positions=bool(stats["positions"]),
    )
