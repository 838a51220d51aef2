"""The benchmark's workloads on one local Spark session.

Each workload is a closed loop with one client and no think time: the
next operation is issued only after the previous ``.collect()`` (or
write) returns. Every operation's answer is checked; a wrong answer or
an exception counts as a failed operation.

* ``build`` — fresh ids checkpoint + fused build over a seeded code
  corpus, repeated until the run's time is up.
* ``serve`` — a base index is built in set-up; then single top-k and
  result-page operations over a seeded Zipf query mix, then a batch
  phase that sends the same top-k queries through
  ``search_wand_batch``.

With tracing on, the same loops run with a span around every call into
a layer, and the run reports per-layer numbers instead of end-to-end
ones. The traced ``build`` run also streams one ingest round — epochs
through ``process_epoch``, ``compact_segments`` after every second
epoch with probe queries on the compacted index, and a delete cycle
(tombstones + ``compact_incremental``) — so the streaming and admin
layers are measured too.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from perfbench import corpus
from perfbench.trace import HostNoise, Tracer, bytes_written, dir_bytes, dir_files, snapshot
from xsearch_spark.operators import segments as seg
from xsearch_spark.operators import wand
from xsearch_spark.plans import admin
from xsearch_spark.plans import build_index as bx
from xsearch_spark.plans.query import parse
from xsearch_spark.streaming import ingest

K = 10
# one top-k op in RELATIONAL_EVERY, drawn from the seed, is checked
# against the relational scorer; the rest are checked for shape only
RELATIONAL_EVERY = 5
ATTRS = ("lang", "n_lines")
# index geometry for a few-thousand-doc corpus on 4 cores: several
# shards per index (so scoring is spread over tasks) and 4 buckets per
# core, the engine's own default ratio
DOCS_PER_SEGMENT = 512
SEGS_PER_SHARD = 2
NUM_BUCKETS = 16


@dataclass(frozen=True)
class Sizes:
    build_docs: int = 2000
    serve_docs: int = 1000
    epoch_docs: int = 400
    epochs: int = 4  # per ingest round; compaction after every second
    probes: int = 4  # probe queries after each compaction
    batch: int = 32
    input_reps: int = 3  # input generation is repeated; setup_s uses the median
    min_builds: int = 2
    min_batches: int = 2


class Run:
    """One workload run: the session, its tracer, samples and failures."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, work: str, sizes: Sizes):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.sizes = sizes
        self.tracer = Tracer(spark, trace)
        self.noise = HostNoise()
        self.setup: dict[str, float] = {}
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a false check is a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok

    def guarded(self, what: str, fn):
        """Run one operation; an exception counts it as failed. Returns
        (result, seconds) or (None, None)."""
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # an operation that raises is a failed op; the loop goes on
            self.check(False, f"{what}: {type(e).__name__}: {e}"[:300])
            return None, None
        return out, time.perf_counter() - t0

    def timed_setup(self, stage: str, fn, reps: int = 1):
        """Run a set-up stage ``reps`` times; record the median wall."""
        walls, out = [], None
        for _ in range(reps):
            with self.tracer.span(stage):
                t0 = time.perf_counter()
                out = fn()
                walls.append(time.perf_counter() - t0)
        self.setup[stage] = statistics.median(walls)
        return out


# --- statistics -----------------------------------------------------------


def pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` (0..100) of ``xs``."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_pct(n: int) -> float | None:
    """The highest reported percentile with at least ten samples beyond it."""
    for q in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - q / 100.0) >= 10:
            return q
    return None


def timing_summary(xs: list[float], scale: float = 1000.0) -> dict:
    if not xs:
        return {"n": 0}
    q = tail_pct(len(xs))
    return {
        "n": len(xs),
        "p50": pct(xs, 50) * scale,
        "p90": pct(xs, 90) * scale,
        "tail_pct": q,
        "tail": pct(xs, q) * scale if q is not None else None,
        "samples": [round(x * scale, 3) for x in xs],
    }


def same_topk(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    """Two exact top-k answers agree: the same rounded scores in order,
    and the same docs above the lowest score (ties at the cut may pick
    different docs and both be right)."""
    ra = sorted((round(s, 6) for _, s in a), reverse=True)
    rb = sorted((round(s, 6) for _, s in b), reverse=True)
    if ra != rb:
        return False
    if not ra:
        return True
    cut = ra[-1]
    above = lambda rows: {d for d, s in rows if round(s, 6) > cut}  # noqa: E731
    return above(a) == above(b)


def job_floor_ms(spark, n: int = 10) -> float:
    """Median wall of a job that does nothing: one task over one row."""
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).collect()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1000.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _span_median(r: Run, name: str, key: str = "dur", scale: float = 1.0) -> float:
    xs = [s[key] if key in s else s["counts"].get(key) for s in r.tracer.named(name)]
    return _median([x for x in xs if x is not None]) * scale


# --- shared steps -----------------------------------------------------------


def _prepare_source(r: Run, n: int, stream: int = 0):
    """Generate ``n`` docs, write them as parquet and read the content
    once so the page cache is warm. Returns (table, path)."""
    idents = corpus.identifier_pool(r.seed)
    path = r.path("input", f"source-{stream}.parquet")

    def make():
        table = corpus.make_docs(r.seed, stream, 0, n, idents)
        corpus.write_source(table, path)
        r.spark.read.parquet(path).agg(F.sum(F.length("content"))).collect()
        return table

    return r.timed_setup("datagen", make, r.sizes.input_reps), path


def _build(r: Run, src, out: str, n_docs: int):
    """The whole user-visible build: ids checkpoint + fused build."""
    ids, n = bx.checkpoint_source_ids(r.spark, src, out)
    built = bx.build_index(
        r.spark, ids, out, text_col="content", variant="code",
        docs_per_segment=DOCS_PER_SEGMENT, segs_per_shard=SEGS_PER_SHARD,
        num_buckets=NUM_BUCKETS, n_docs=n, fused_merge=True,
        attr_cols=ATTRS, positions=True,
    )
    return ids, n, built


def _build_layers(r: Run, src, out: str):
    """The same build as :func:`_build`, issued layer by layer so each
    layer gets its own span: ids checkpoint, tokenize+pack into cached
    runs, merge+index write, and the driver-side manifest read. Returns
    (ids, n, postings, index rows)."""
    from pyspark import StorageLevel

    tr = r.tracer
    with tr.span("ids") as s:
        before = snapshot(out)
        ids, n = bx.checkpoint_source_ids(r.spark, src, out)
        s["counts"]["bytes_written"] = bytes_written(before, out)
    r.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    with tr.span("pack") as s:
        packed = seg.pack_from_source(
            ids, "content", "doc_id", "code", DOCS_PER_SEGMENT,
            n_docs=n, attr_cols=ATTRS, positions=True,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        row = packed.agg(
            F.sum("sum_tf").alias("s"),
            F.sum("n_docs").alias("postings"),
            F.count(F.lit(1)).alias("runs"),
        ).collect()[0]
        s["counts"]["runs"] = int(row["runs"])
    index_path = os.path.join(out, "index")
    with tr.span("merge"):
        merged = seg.merge_to_index(
            packed, int(row["s"]) / n, SEGS_PER_SHARD, NUM_BUCKETS, n_runs=int(row["runs"])
        )
        merged.write.mode("overwrite").partitionBy("bucket").parquet(index_path)
        packed.unpersist()
    with tr.span("manifest"):
        parts = bx._partition_rows_parquet(index_path, "bucket")
    with tr.span("load"):
        r.spark.read.parquet(index_path)
    return ids, n, int(row["postings"]), sum(p["rows"] for p in parts.values())


def _expected_postings(r: Run, table) -> int:
    """Postings the build must produce, counted by the tokenizer kernel
    in this process with no Spark: one per distinct (doc, term) plus one
    synthetic attr posting per doc and attr field."""
    from xsearch_spark.operators.build import count_batch_coded

    texts = table.column("content").to_pandas()
    ids = np.arange(len(texts), dtype=np.int64)
    with r.tracer.span("tokenize"):
        t0 = time.perf_counter()
        res = count_batch_coded(texts, ids, "code", with_positions=True)
        wall = time.perf_counter() - t0
    r.detail["tokenize_docs_per_s"] = len(texts) / wall
    return len(res[2]) + len(ATTRS) * len(texts)


def _check_ids_sample(r: Run, ids, table, k: int = 4) -> None:
    """Content sha256 of a seeded sample of checkpoint rows against the
    generator's sha table."""
    rng = np.random.default_rng([r.seed, 4, r.attempted])
    want = {
        (a, b, c): h
        for a, b, c, h in zip(
            *(table.column(x).to_pylist() for x in ("repo", "path", "commit", "content_sha256"))
        )
    }
    sample = [int(x) for x in rng.choice(table.num_rows, size=min(k, table.num_rows), replace=False)]
    rows = ids.filter(F.col("doc_id").isin(sample)).select("repo", "path", "commit", "content").collect()
    ok = len(rows) == len(sample) and all(
        want.get((x["repo"], x["path"], x["commit"])) == corpus.sha256(x["content"]) for x in rows
    )
    r.check(ok, "ids checkpoint sample sha256 mismatch")


def _deadline(r: Run, share: float = 1.0) -> float:
    return time.perf_counter() + r.seconds * share


# --- build --------------------------------------------------------------------


def run_build(r: Run) -> None:
    n_docs = r.sizes.build_docs
    table, src_path = _prepare_source(r, n_docs)
    expected = r.timed_setup("expected", lambda: _expected_postings(r, table))
    src_bytes = corpus.content_bytes(table)
    src = r.spark.read.parquet(src_path)

    def warm():
        # one full-size build: a smaller one leaves the first timed
        # build still paying JIT and worker warm-up
        out = r.path("warm", "index")
        _build(r, src, out, n_docs)
        shutil.rmtree(out, ignore_errors=True)

    r.timed_setup("warmup", warm)
    if r.traced:
        stream = r.timed_setup("stream_datagen", lambda: _prepare_stream(r))

    rows_seen: set[int] = set()
    ratios: list[float] = []
    deadline = _deadline(r)
    i, last = 0, 0.0
    per_iter = 2 if r.traced else 1
    # whole builds only: another starts only if it would end in time.
    # Starting one whenever time is left made the count flip between
    # runs, and the median with it (the first timed build is the slowest)
    while i * per_iter < r.sizes.min_builds or time.perf_counter() + last < deadline:
        t_iter = time.perf_counter()
        out = r.path("builds", f"b{i}")
        if r.traced:
            # pairs of one whole-build call (one span, nothing inside
            # it) and one layer-by-layer build, in alternating order
            for layered in (i % 2 == 1, i % 2 == 0):
                shutil.rmtree(out, ignore_errors=True)
                if not layered:
                    with r.tracer.span("build_index"):
                        res, wall = r.guarded("build", lambda: _build(r, src, out, n_docs))
                    if res is not None:
                        ids, n, built = res
                        m = bx.ckpt.load_manifest(out, "index")
                        if _check_build(r, n, n_docs, int(m.partitions["_totals"]["postings"]), expected, int(m.rows_out), rows_seen):
                            r.samples["op"].append(wall)
                    continue
                with r.tracer.span("build_layers"):
                    res, _ = r.guarded("build layers", lambda: _build_layers(r, src, out))
                if res is not None:
                    ids, n, postings, rows = res
                    _check_build(r, n, n_docs, postings, expected, rows, rows_seen)
                    _check_ids_sample(r, ids, table)
                    idx = os.path.join(out, "index")
                    r.samples["index_bytes"].append(dir_bytes(idx))
                    r.samples["index_files"].append(dir_files(idx))
                    r.samples["index_rows"].append(rows)
        else:
            res, wall = r.guarded("build", lambda: _build(r, src, out, n_docs))
            if res is not None:
                ids, n, built = res
                m = bx.ckpt.load_manifest(out, "index")
                if _check_build(r, n, n_docs, int(m.partitions["_totals"]["postings"]), expected, int(m.rows_out), rows_seen):
                    r.samples["op"].append(wall)
                _check_ids_sample(r, ids, table)
                ratios.append((dir_bytes(os.path.join(out, "index")) + dir_bytes(os.path.join(out, "source"))) / src_bytes)
        shutil.rmtree(out, ignore_errors=True)
        i += 1
        last = time.perf_counter() - t_iter

    if r.traced:
        _trace_ingest(r, *stream)

    ops = r.samples["op"]
    r.detail["build_docs"] = n_docs
    r.detail["content_bytes"] = src_bytes
    r.metrics = {
        "throughput_per_s": n_docs / _median(ops) if ops else 0.0,
        "bytes_per_source_byte": _median(ratios),
    }
    r.detail["builds"] = timing_summary(ops)


def layers_build(r: Run) -> None:
    whole = [s["dur"] for s in r.tracer.named("build_index")]
    layered = [s["dur"] for s in r.tracer.named("build_layers")]
    r.layers.update({
        "tokenize.docs_per_s": r.detail["tokenize_docs_per_s"],
        "ids.s": _span_median(r, "ids"),
        "ids.jobs": _span_median(r, "ids", "jobs"),
        "ids.bytes_written": _span_median(r, "ids", "bytes_written"),
        "pack.s": _span_median(r, "pack"),
        "pack.runs": _span_median(r, "pack", "runs"),
        "pack.jobs": _span_median(r, "pack", "jobs"),
        "merge.s": _span_median(r, "merge"),
        "merge.jobs": _span_median(r, "merge", "jobs"),
        "index.rows": _median(r.samples["index_rows"]),
        "index.files": _median(r.samples["index_files"]),
        "index.bytes": _median(r.samples["index_bytes"]),
        "build_index.s": _median(whole),
        "build_index.jobs": _span_median(r, "build_index", "jobs"),
        "build.trace_overhead_s": _median(layered) - _median(whole),
    })
    layers_ingest(r)


def _check_build(r: Run, n: int, n_docs: int, postings: int, expected: int, rows: int, rows_seen: set) -> bool:
    rows_seen.add(rows)
    return r.check(
        n == n_docs and postings == expected and len(rows_seen) == 1,
        f"build: n={n}/{n_docs} postings={postings}/{expected} rows={sorted(rows_seen)}",
    )


# --- serve --------------------------------------------------------------------


def _topk_rows(df) -> list[tuple[int, float]]:
    return [(int(x["doc_id"]), float(x["score"])) for x in df.collect()]


def run_serve(r: Run) -> None:
    table, src_path = _prepare_source(r, r.sizes.serve_docs)
    src_bytes = corpus.content_bytes(table)
    src = r.spark.read.parquet(src_path)
    out = r.path("index")
    _, _, built = r.timed_setup("base_build", lambda: _build(r, src, out, r.sizes.serve_docs))
    r.detail["serve_docs"] = r.sizes.serve_docs
    ratio = (dir_bytes(os.path.join(out, "index")) + dir_bytes(os.path.join(out, "source"))) / src_bytes

    def P(q: str):
        return parse(q, "code", attr_fields=built.attr_fields)

    mc_cache: dict[str, int] = {}

    def match_count(q: str) -> int:
        if q not in mc_cache:
            mc_cache[q] = int(wand.match_count(built, P(q)).collect()[0]["n_docs"])
        return mc_cache[q]

    page_fns = {
        "facet_counts": lambda p: wand.facet_counts(built, p, "lang"),
        "field_stats": lambda p: wand.field_stats(built, p, "n_lines"),
        "facet_histogram": lambda p: wand.facet_histogram(built, p, "n_lines", 25),
        "search_sorted": lambda p: wand.search_sorted(built, p, "n_lines", k=K),
        "search_collapse": lambda p: wand.search_collapse(built, p, "lang", k=K),
        "search_after_topk": lambda p: wand.search_after_topk(built, p, k=K),
    }

    idents = corpus.identifier_pool(r.seed)

    def warm():
        # every top-k shape and every page op once, so no timed single
        # op is the first of its plan shape; only the first batch of the
        # batch phase runs cold
        topk_qs, page_q = corpus.warmup_queries(r.seed, idents)
        for q in topk_qs:
            wand.search_wand(built, P(q), k=K).collect()
        for kind in corpus.PAGE_OPS:
            page_fns[kind](P(page_q)).collect()

    r.timed_setup("warmup", warm)

    check_rng = np.random.default_rng([r.seed, 5])
    singles: dict[str, list[tuple[int, float]]] = {}

    def single_op(kind: str, q: str) -> float | None:
        """One timed single op and its check; returns its wall, or None
        when it failed."""
        op = r.tracer.next_op()
        if kind == "topk":
            with r.tracer.span("topk", op):
                def run_topk():
                    with r.tracer.span("parse"):
                        p = P(q)
                    with r.tracer.span("search_wand"):
                        return p, _topk_rows(wand.search_wand(built, p, k=K))

                res, wall = r.guarded(f"topk {q!r}", run_topk)
            if res is None:
                return None
            p, got = res
            singles[q] = got
            if check_rng.random() < 1.0 / RELATIONAL_EVERY:
                want = _topk_rows(wand.search_index_relational(built, p, k=K))
                ok = r.check(same_topk(got, want), f"topk {q!r}: wand {got} != relational {want}")
            else:
                ok = r.check(len(got) <= K, f"topk {q!r}: {len(got)} rows")
            if not ok:
                return None
            r.samples["topk"].append(wall)
            if r.traced and _replayable(p):
                _replay_topk(r, built, p, op)
            return wall
        with r.tracer.span("page." + kind, op):
            res, wall = r.guarded(f"{kind} {q!r}", lambda: page_fns[kind](P(q)).collect())
        if res is None or not r.check(_page_ok(kind, res, match_count(q)), f"{kind} {q!r}: {res}"):
            return None
        r.samples["page"].append(wall)
        return wall

    t_single = time.perf_counter()
    deadline = _deadline(r, 0.75)
    round_walls: list[float] = []
    for ops in corpus.single_rounds(r.seed, idents):
        t0 = time.perf_counter()
        walls = [single_op(kind, q) for kind, q in ops]
        if None not in walls:
            round_walls.append(sum(walls))
        # whole rounds only: start another only if it fits the phase
        now = time.perf_counter()
        if now + (now - t0) > deadline:
            break
    r.detail["rounds"] = {"ops_per_round": len(ops), **timing_summary(round_walls, 1.0)}

    # batch phase: the rounds' top-k queries, 32 at a time in order, so
    # every batch holds the same mix of shapes; every answer is checked
    # against that query's single-query answer
    pool = list(singles)
    t_batch = time.perf_counter()
    deadline = _deadline(r, 0.25)
    walls, answered, b = [], 0, 0
    # counts attempts, not successes, so failing batches still end the phase
    while pool and (b < r.sizes.min_batches or time.perf_counter() < deadline):
        qs = [pool[(b * r.sizes.batch + j) % len(pool)] for j in range(r.sizes.batch)]
        b += 1
        with r.tracer.span("batch") as s:
            res, wall = r.guarded(
                "batch",
                lambda: wand.search_wand_batch(
                    built, {str(j): P(q) for j, q in enumerate(qs)}, k=K
                ).collect(),
            )
        if res is None:
            continue
        if s is not None:
            s["counts"]["queries"] = len(qs)
        got: dict[str, list[tuple[int, float]]] = defaultdict(list)
        for x in res:
            got[x["query_id"]].append((int(x["doc_id"]), float(x["score"])))
        for j, q in enumerate(qs):
            r.check(same_topk(got.get(str(j), []), singles[q]), f"batch answer for {q!r} differs from its single answer")
        walls.append(wall)
        answered += len(qs)

    r.detail["phase_s"] = {"single": t_batch - t_single, "batch": time.perf_counter() - t_batch}
    topk, page = r.samples["topk"], r.samples["page"]
    r.samples["op"] = topk
    r.metrics = {
        "throughput_per_s": len(ops) / _median(round_walls) if round_walls else 0.0,
        "bytes_per_source_byte": ratio,
    }
    r.detail.update({
        "topk": timing_summary(topk),
        "page": timing_summary(page),
        "batch": {"queries": answered, "qps": r.sizes.batch / _median(walls) if walls else None, **timing_summary(walls)},
    })


def layers_serve(r: Run) -> None:
    replayed = r.tracer.named("replay")
    boundary = []
    for rep in replayed:
        sw = [s for s in r.tracer.spans if s["op"] == rep["op"] and s["name"] == "search_wand"]
        parts = [s for s in r.tracer.spans if s["parent"] == rep["id"]]
        boundary.append(sw[0]["dur"] - sum(s["dur"] for s in parts))
    r.layers.update({
        "parse.us": _span_median(r, "parse", scale=1e6),
        "topk.jobs": _span_median(r, "search_wand", "jobs"),
        "topk.boundary_ms": _median(boundary) * 1000.0,
        "scan.ms": _span_median(r, "scan", scale=1000.0),
        "scan.rows": _span_median(r, "scan", "rows"),
        "scan.bytes": _span_median(r, "scan", "bytes"),
        "decode.ms": _span_median(r, "decode", scale=1000.0),
        "decode.postings": _span_median(r, "decode", "postings"),
        "score.ms": _span_median(r, "score", scale=1000.0),
        "score.postings": _span_median(r, "score", "postings"),
        "batch.ms_per_query": _median([s["dur"] / s["counts"]["queries"] for s in r.tracer.named("batch") if s["counts"]]) * 1000.0,
        "batch.jobs": _span_median(r, "batch", "jobs"),
    })
    for kind in corpus.PAGE_OPS:
        r.layers[f"page.{kind}.ms"] = _span_median(r, "page." + kind, scale=1000.0)
        r.layers[f"page.{kind}.jobs"] = _span_median(r, "page." + kind, "jobs")
    r.detail["replayed_topk_ops"] = len(replayed)


def _page_ok(kind: str, rows, n_match: int) -> bool:
    """Each page op against the query's full match count."""
    if kind in ("facet_counts", "facet_histogram"):
        return sum(int(x["n_docs"]) for x in rows) == n_match
    if kind == "field_stats":
        return len(rows) == 1 and int(rows[0]["n_docs"]) == n_match
    if kind == "search_sorted":
        vals = [x["sort_value"] for x in rows]
        return len(rows) == min(K, n_match) and vals == sorted(vals, reverse=True)
    if kind == "search_collapse":
        vals = [x["value"] for x in rows]
        return len(vals) == len(set(vals)) and (len(vals) > 0) == (n_match > 0) and len(vals) <= K
    if kind == "search_after_topk":
        scores = [x["score"] for x in rows]
        return len(rows) == min(K, n_match) and scores == sorted(scores, reverse=True)
    raise ValueError(kind)


def _replayable(p) -> bool:
    """Top-k shapes whose scan is the plain term list: the in-process
    replay covers these (prefix, fuzzy, wildcard and range expansions
    happen inside the executor and are not replayed)."""
    return not (
        p.prefixes or p.exclude_prefixes or p.fuzzies or p.exclude_fuzzies
        or p.wildcards or p.exclude_wildcards or p.ranges or p.groups
        or p.exclude_groups
    )


def _replay_topk(r: Run, built, p, op: int) -> None:
    """Re-run a top-k op's layers in this process, each under its own
    span: the pruned index scan (collected), the decode of the scanned
    blobs, and the per-shard scorer — the same functions the executor
    path calls."""
    from xsearch_spark.constants import attr_term, idf

    tr = r.tracer
    attr_terms = ([attr_term("lang", p.lang)] if p.lang else []) + wand._attr_filter_terms(built, p)
    pos_need = wand._phrase_pos_need(built, p)
    with tr.span("replay", op):
        with tr.span("scan") as s:
            scan = wand.pruned_index_scan(
                built.index_df, list(p.terms) + list(p.exclude) + attr_terms, built.num_buckets
            )
            rows = wand._project_scorer_cols(scan, bool(pos_need)).toPandas()
            s["counts"]["rows"] = len(rows)
            s["counts"]["bytes"] = int(
                sum(rows[c].map(lambda b: len(b) if b is not None else 0).sum()
                    for c in ("doc_ids", "tfs", "dls", "poss") if c in rows.columns)
            )
        with tr.span("decode") as s:
            shards = [
                wand._assemble_shard(g, set(p.exclude), built.avgdl, frozenset(attr_terms), pos_need)
                for _, g in rows.groupby("shard", sort=False)
                if g["term"].isin(p.terms).any()
            ]
            s["counts"]["postings"] = sum(
                sum(len(v[0]) for v in sh[0].values()) + sum(len(x) for x in sh[2])
                + sum(len(x) for x in sh[4].values())
                for sh in shards
            )
        with tr.span("score") as s:
            scored = 0
            for lists, blocks, ex_lists, dfs, attr_lists, pos_lists in shards:
                allowed = None
                for t in attr_terms:
                    lst = attr_lists.get(t, np.empty(0, np.int64))
                    allowed = lst if allowed is None else np.intersect1d(allowed, lst, assume_unique=True)
                idfs = wand._scaled_idfs({t: idf(built.n_docs, dfs[t]) for t in lists}, p)
                wand.score_shard(lists, blocks, idfs, built.avgdl, p, K, ex_lists, allowed, pos_lists)
                scored += sum(len(v[0]) for v in lists.values())
            s["counts"]["postings"] = scored


# --- ingest -------------------------------------------------------------------


def _prepare_stream(r: Run) -> tuple[list[str], int]:
    """Seeded epoch files for the streamed ingest round, each carrying
    dense doc ids as a delivered micro-batch does. Returns (paths,
    content bytes)."""
    sz = r.sizes
    idents = corpus.identifier_pool(r.seed)
    paths, nbytes = [], 0
    for e in range(sz.epochs):
        t = corpus.make_docs(r.seed, 10 + e, e * sz.epoch_docs, sz.epoch_docs, idents)
        path = r.path("stream", f"epoch-{e}.parquet")
        corpus.write_source(t, path, doc_id_lo=e * sz.epoch_docs)
        r.spark.read.parquet(path).agg(F.sum(F.length("content"))).collect()
        paths.append(path)
        nbytes += corpus.content_bytes(t)
    return paths, nbytes


def _trace_ingest(r: Run, paths: list[str], src_bytes: int) -> None:
    """One streamed ingest round with a delete cycle, traced: the layers
    of ``streaming.ingest`` and ``plans.admin``."""
    probes = corpus.probe_queries(r.seed, corpus.identifier_pool(r.seed), 64)
    res = _ingest_round(r, r.path("stream", "root"), paths, probes)
    if res is not None:
        wall, written = res
        r.detail["ingest"] = {
            "docs": r.sizes.epochs * r.sizes.epoch_docs,
            "docs_per_s": r.sizes.epochs * r.sizes.epoch_docs / wall,
            "write_amp": written / src_bytes,
            "fresh": timing_summary(r.samples["fresh"]),
        }


def layers_ingest(r: Run) -> None:
    r.layers.update({
        "epoch.s": _span_median(r, "epoch"),
        "epoch.bytes_written": _span_median(r, "epoch", "bytes_written"),
        "compact.s": _span_median(r, "compact"),
        "compact.bytes_read": _span_median(r, "compact", "bytes_read"),
        "compact.bytes_written": _span_median(r, "compact", "bytes_written"),
        "probe.ms": _span_median(r, "probe", scale=1000.0),
        "tombstone.s": _span_median(r, "tombstone"),
        "compact_incremental.s": _span_median(r, "compact_incremental"),
        "compact_incremental.bytes_written": _span_median(r, "compact_incremental", "bytes_written"),
    })


def _ingest_round(r: Run, root: str, paths: list[str], probes: list[str]):
    """Stream ``paths`` as epochs into a fresh index root, compacting
    after every second epoch and probing each compacted index; then one
    delete cycle. Runs traced only. Returns (write-path wall, bytes
    written) or None when an operation failed."""
    tr = r.tracer
    os.makedirs(os.path.join(root, "segments"), exist_ok=True)
    os.makedirs(os.path.join(root, "epoch_stats"), exist_ok=True)
    wall = 0.0
    written = 0
    delivered = 0
    pending: list[float] = []
    built = None
    hits: list[int] = []
    ok = True
    n_probe = max(1, min(r.sizes.probes, len(probes)))
    for e, path in enumerate(paths):
        batch = r.spark.read.parquet(path)
        n_batch = batch.count()
        before = snapshot(root)
        t_start = time.perf_counter()
        with tr.span("epoch") as s:
            _, dt = r.guarded("process_epoch", lambda: ingest.process_epoch(
                r.spark, batch, e, root, avgdl_hint=400.0, variant="code",
                text_col="content", docs_per_segment=DOCS_PER_SEGMENT,
                attr_cols=ATTRS, positions=True,
            ))
        if dt is None:
            return None
        s["counts"]["bytes_written"] = bytes_written(before, root)
        written += s["counts"]["bytes_written"]
        wall += dt
        delivered += n_batch
        pending.append(t_start)
        if e % 2 == 0 and e != len(paths) - 1:
            continue
        before = snapshot(root)
        seg_bytes = dir_bytes(os.path.join(root, "segments"))
        with tr.span("compact") as s:
            built, dt = r.guarded("compact_segments", lambda: ingest.compact_segments(
                r.spark, root, segs_per_shard=SEGS_PER_SHARD, num_buckets=NUM_BUCKETS,
                docs_per_segment=DOCS_PER_SEGMENT,
            ))
        done = time.perf_counter()
        if built is None:
            return None
        s["counts"]["bytes_read"] = seg_bytes
        s["counts"]["bytes_written"] = bytes_written(before, root)
        written += s["counts"]["bytes_written"]
        wall += dt
        ok &= r.check(built.n_docs == delivered, f"compacted n_docs {built.n_docs} != delivered {delivered}")
        r.samples["fresh"].extend(done - t0 for t0 in pending)
        pending = []
        hits = []
        last_probes = probes[(e // 2) * n_probe:(e // 2 + 1) * n_probe]
        for q in last_probes:
            with tr.span("probe"):
                got, _ = r.guarded("probe", lambda: _topk_rows(
                    wand.search_wand(built, parse(q, "code", attr_fields=built.attr_fields), k=K)
                ))
            if got is not None:
                ids = [d for d, _ in got]
                ok &= r.check(all(0 <= d < delivered for d in ids), f"probe {q!r} returned undelivered docs {ids}")
                hits.extend(ids)

    # delete cycle: 0.5 % of the delivered docs, led by docs the last
    # probes returned so their absence afterwards is a real check
    rng = np.random.default_rng([r.seed, 7])
    n_del = max(1, delivered // 200)
    victims = list(dict.fromkeys(hits))[:n_del]
    for x in rng.permutation(delivered):
        if len(victims) >= n_del:
            break
        if int(x) not in victims:
            victims.append(int(x))
    with tr.span("tombstone"):
        r.guarded("append_tombstones", lambda: admin.append_tombstones(r.spark, root, victims))
    before = snapshot(root)
    with tr.span("compact_incremental") as s:
        outcome, _ = r.guarded("compact_incremental", lambda: admin.compact_incremental(r.spark, built))
    s["counts"]["bytes_written"] = bytes_written(before, root)
    if outcome is None:
        return None
    ok &= r.check(outcome in ("incremental", "full"), f"compact_incremental -> {outcome}")
    dead = set(victims)
    for q in last_probes:
        with tr.span("probe"):
            got, _ = r.guarded("probe after delete", lambda: _topk_rows(
                wand.search_wand(built, parse(q, "code", attr_fields=built.attr_fields), k=K)
            ))
        if got is not None:
            ok &= r.check(not dead & {d for d, _ in got}, f"tombstoned docs in probe {q!r}: {got}")
    shutil.rmtree(root, ignore_errors=True)
    return (wall, written) if ok else None


WORKLOADS = {"build": run_build, "serve": run_serve}
LAYERS = {"build": layers_build, "serve": layers_serve}


# --- results ------------------------------------------------------------------

# name -> unit; the order is the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "throughput_per_s": "1/s",
    "bytes_per_source_byte": "ratio",
}

PER_LAYER = {
    "session.start_s": "s", "datagen.s": "s", "job_floor_ms": "ms",
    "tokenize.docs_per_s": "1/s",
    "ids.s": "s", "ids.jobs": "count", "ids.bytes_written": "bytes",
    "pack.s": "s", "pack.runs": "count", "pack.jobs": "count",
    "merge.s": "s", "merge.jobs": "count",
    "index.rows": "count", "index.files": "count", "index.bytes": "bytes",
    "build_index.s": "s", "build_index.jobs": "count", "build.trace_overhead_s": "s",
    "parse.us": "us", "topk.jobs": "count", "topk.boundary_ms": "ms",
    "scan.ms": "ms", "scan.rows": "count", "scan.bytes": "bytes",
    "decode.ms": "ms", "decode.postings": "count",
    "score.ms": "ms", "score.postings": "count",
    **{f"page.{k}.{m}": u for k in corpus.PAGE_OPS for m, u in (("ms", "ms"), ("jobs", "count"))},
    "batch.ms_per_query": "ms", "batch.jobs": "count",
    "epoch.s": "s", "epoch.bytes_written": "bytes",
    "compact.s": "s", "compact.bytes_read": "bytes", "compact.bytes_written": "bytes",
    "probe.ms": "ms", "tombstone.s": "s",
    "compact_incremental.s": "s", "compact_incremental.bytes_written": "bytes",
}


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: str,
        session_s: float, sizes: Sizes = Sizes()) -> tuple[dict, Run]:
    """Run one workload; returns (result object, the run). The result
    holds every end-to-end metric untraced and every per-layer metric
    traced; a layer the workload does not exercise reports 0."""
    r = Run(spark, seed, seconds, trace, work, sizes)
    WORKLOADS[workload](r)
    ops = r.samples["op"]
    if trace:
        r.layers["job_floor_ms"] = job_floor_ms(spark)
        r.tracer.finish()
        LAYERS[workload](r)
        r.layers["session.start_s"] = session_s
        r.layers["datagen.s"] = r.setup.get("datagen", 0.0)
        metrics = {k: {"value": float(r.layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": session_s + sum(r.setup.values()),
            "p50_ms": pct(ops, 50) * 1000.0 if ops else 0.0,
            **r.metrics,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    if not ops or (not trace and any(m["value"] == 0.0 for m in metrics.values())):
        r.check(False, "workload produced no measurement")
    result = {
        "correct": r.failed == 0,
        "attempted": max(1, r.attempted),
        "failed": r.failed,
        "metrics": metrics,
    }
    r.detail.update({"setup": r.setup, "host": r.noise.stamp(), "errors": r.errors})
    return result, r
