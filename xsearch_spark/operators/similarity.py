"""Similarity search over an embedding column (array<float>).

Beyond the reference capability set (xsearch is term-based only [R]);
required of a training-data engine. Two paths:

  * ``cosine_topk`` — brute-force exact top-k against a query vector,
    pure Column expressions (zip_with + aggregate — JVM higher-order
    functions, no UDF, whole-stage codegen'd). The correctness baseline
    and perfectly scalable as a single scan + TakeOrderedAndProject.
  * ``lsh_buckets`` / ``lsh_candidate_pairs`` — signed-random-projection
    LSH: P hyperplanes with deterministic ±1 components derived from
    md5(plane:dim) (bit-identical in DuckDB SQL, so the bucketing is
    oracle-checkable); bucket = the P sign bits. Near-dup candidates
    only join within buckets. This is the scale path: the full
    pairwise cosine is O(n²); bucketed is O(n·avg_bucket).
  * ``ivf_topk`` — IVF-style probe: probe the query's bucket plus the
    full Hamming ball of radius ``probe_hamming`` (default
    ``DEFAULT_PROBE_HAMMING``), exact-rescore inside the probe set.
    Recall/latency trade-off is explicit — bench.py reports the
    measured curve every round; tests pin monotonicity + the
    clustered-data concentration property.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from xsearch_spark.constants import SRP_BIT_FLOOR
from xsearch_spark.sources.io import write_json, write_table


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: one scan, no shuffle beyond the
    TakeOrderedAndProject heap merge. (vec_id, cos_sim)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = _dot(F.col(emb_col), q) / (_norm(F.col(emb_col)) * _norm(q))
    return (
        embeddings.select(F.col(id_col).alias("vec_id"), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def _plane_signs(num_planes: int, dim: int) -> list[list[float]]:
    """The deterministic ±1 hyperplane components: (p, d) = +1 if the
    first hex nibble of md5('p:d') >= 8 else -1 — reproducible in ANSI
    SQL, JVM expressions and Python alike (the parity anchor for the
    whole ANN stack)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) >= 8
            else -1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_buckets(
    embeddings: DataFrame,
    num_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Signed-random-projection bucket per vector -> (vec_id, bucket).

    Hyperplane component (p, d) = +1 if the first hex nibble of
    md5('p:d') >= 8 else -1 — deterministic and reproducible in ANSI
    SQL. bucket = Σ_p [dot_p >= 0] · 2^p.

    Round-4 shape: the P plane dot products are per-row higher-order
    expressions (``aggregate(zip_with(emb, literal ±1 array))`` — the
    same JVM-codegen pattern :func:`_dot` uses for cosine) against sign
    arrays precomputed driver-side. The round-3 form posexploded every
    (element, plane) pair — a dim×planes row amplification (6144× at
    dim=768, P=8) through two hash aggregations; this one is a pure
    projection: no explode, no shuffle, nothing but the scan.
    ``dim`` skips the one-row probe job when the caller knows it.
    """
    if dim is None:
        first = embeddings.select(F.size(emb_col).alias("d")).first()
        if first is None:  # empty input: schema-stable empty result
            return embeddings.select(
                F.col(id_col).alias("vec_id"), F.lit(0).cast("long").alias("bucket")
            ).limit(0)
        dim = int(first["d"])
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        _bucket_expr(emb_col, num_planes, dim).alias("bucket"),
    )


def _bucket_expr(emb_col: str, num_planes: int, dim: int) -> "F.Column":
    """The SRP bucket as ONE Column — the single source of the
    bucketing truth shared by :func:`lsh_buckets` and
    :func:`build_ann_index` (which projects it directly onto the
    embeddings row instead of re-attaching it through a self-join).

    Round 7 (guide §4.2): computed in a vectorized Arrow UDF — one
    (batch × dim) NumPy multiply + sequential cumsum per plane —
    instead of P interpreted higher-order JVM aggregates over a
    2·P·dim-literal expression tree (measured ~4 s of the sf0.1 ANN
    build for 2 000 vectors; the giant tree also taxed planning).
    Bit-for-bit the same fold: the per-element products are exact, the
    cumsum accumulates left-to-right in the same IEEE order as the JVM
    ``aggregate`` and the Python twin (:func:`query_bucket_of`), and
    the sign rule is the shared ``constants.SRP_BIT_FLOOR`` comparison."""
    signs = np.asarray(_plane_signs(num_planes, dim), dtype=np.float64)

    @pandas_udf("long")
    def srp_bucket(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series(np.empty(0, np.int64))
        mat = np.stack(v.to_numpy())  # (n, dim) float64
        bucket = np.zeros(mat.shape[0], dtype=np.int64)
        for p in range(signs.shape[0]):
            acc = np.cumsum(mat * signs[p], axis=1)[:, -1]
            bucket |= (acc >= SRP_BIT_FLOOR).astype(np.int64) << p
        return pd.Series(bucket)

    return srp_bucket(F.col(emb_col).cast("array<double>"))


def lsh_buckets_exploded(
    embeddings: DataFrame,
    num_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Reference form of :func:`lsh_buckets` (posexplode × planes →
    grouped sums) — kept as the parity oracle mirroring the DuckDB SQL's
    shape; the projection form must match it exactly (pytest-pinned).
    Not on any build path: the row amplification is dim×planes."""
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), F.posexplode(emb_col).alias("dim", "val")
    )
    planes = F.explode(F.sequence(F.lit(0), F.lit(num_planes - 1))).alias("plane")
    expanded = e.select("vec_id", "dim", "val", planes)
    signed = expanded.withColumn(
        "sign",
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("plane").cast("string"), F.col("dim").cast("string")
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("int")
            >= 8,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)),
    )
    dots = signed.groupBy("vec_id", "plane").agg(
        F.sum(F.col("val").cast("double") * F.col("sign")).alias("dot")
    )
    return (
        dots.withColumn(
            "bit", (F.col("dot") >= F.lit(SRP_BIT_FLOOR)).cast("long")
        )
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.col("bit")
                * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(plane AS INT))")
            ).alias("bucket")
        )
    )


def lsh_candidate_pairs(
    embeddings: DataFrame,
    num_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_bucket_size: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup candidates: pairs sharing an LSH bucket (vec_a < vec_b).

    ``max_bucket_size``: skew guard — the within-bucket self-join is
    O(bucket²), so a mega-cluster of near-identical embeddings makes one
    bucket quadratic at corpus scale. Buckets above the cap are dropped
    (handle them by exact-dup hashing instead); None = exact semantics,
    matching the SQL oracle. ``dim``: embedding dimensionality, threaded
    to :func:`lsh_buckets` so planning stays zero-Spark-jobs (round-4
    advisor: omitting it costs a one-row probe job per invocation)."""
    b = lsh_buckets(embeddings, num_planes, id_col, emb_col, dim=dim)
    if max_bucket_size is not None:
        sizes = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bsz"))
        b = b.join(sizes, "bucket").filter(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    a = b.select(F.col("bucket"), F.col("vec_id").alias("vec_a"))
    c = b.select(F.col("bucket"), F.col("vec_id").alias("vec_b"))
    return a.join(c, "bucket").filter(F.col("vec_a") < F.col("vec_b")).select(
        "vec_a", "vec_b"
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    num_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: exact cosine on LSH-bucketed candidate
    pairs -> (vec_a, vec_b, cos_sim >= threshold). The threshold compares
    the 6-decimal-rounded similarity so the cut is reproducible across
    engines (Spark and DuckDB sums associate floats differently at the
    last ulp — SURVEY.md §5.2 float discipline). ``dim`` threads through
    to the LSH planner (zero-job planning when known)."""
    pairs = lsh_candidate_pairs(embeddings, num_planes, id_col, emb_col, dim=dim)
    ea = embeddings.select(F.col(id_col).alias("vec_a"), F.col(emb_col).alias("emb_a"))
    eb = embeddings.select(F.col(id_col).alias("vec_b"), F.col(emb_col).alias("emb_b"))
    joined = pairs.join(ea, "vec_a").join(eb, "vec_b")
    sim = _dot(F.col("emb_a"), F.col("emb_b")) / (
        _norm(F.col("emb_a")) * _norm(F.col("emb_b"))
    )
    return (
        joined.select("vec_a", "vec_b", sim.alias("cos_sim"))
        .filter(F.round(F.col("cos_sim"), 6) >= threshold)
    )


def query_bucket_of(query_vec: list[float], num_planes: int = 8) -> int:
    """Driver-side Python twin of :func:`lsh_buckets` for ONE vector —
    planning an ANN probe costs zero Spark jobs (same md5-derived plane
    construction, same ``SRP_BIT_FLOOR`` sign rule, so it agrees
    bit-for-bit with the table's bucket column; parity-tested)."""
    import numpy as np

    qv = np.asarray(query_vec, dtype=np.float64)
    bucket = 0
    for p, signs in enumerate(_plane_signs(num_planes, len(query_vec))):
        # sequential fold, matching the JVM aggregate's evaluation order
        acc = 0.0
        for x, s in zip(qv, signs):
            acc += float(x) * s
        if acc >= SRP_BIT_FLOOR:
            bucket |= 1 << p
    return bucket


def probe_buckets_of(
    query_vec: list[float], num_planes: int = 8, probe_hamming: int = 1
) -> list[int]:
    """The probe set: ALL buckets within ``probe_hamming`` bit flips of
    the query's own bucket (recall/latency dial) — exactly
    ``popcount(b XOR qbucket) <= probe_hamming``, matching the SQL
    oracle's ``bit_count(xor(...))`` formulation. (Round-5 fix: the old
    form only ever flipped single bits, so probe_hamming=2 silently
    under-probed as 1 — pinned by a test against the popcount
    definition.)"""
    from itertools import combinations

    qbucket = query_bucket_of(query_vec, num_planes)
    probes = {qbucket}
    for h in range(1, min(probe_hamming, num_planes) + 1):
        for bits in combinations(range(num_planes), h):
            flip = 0
            for p in bits:
                flip |= 1 << p
            probes.add(qbucket ^ flip)
    return sorted(probes)


DEFAULT_PROBE_HAMMING = 2
"""Default probe width (round-6). The dial is data-dependent — measured
recall@10 over the sf0.1 bench embeddings (8 planes), with the corpus
fraction each probe reads:

    hamming   1      2      3      4      5
    recall    0.21   0.41   0.70   0.86   0.96
    fraction  0.04   0.15   0.37   0.64   0.85

Those embeddings are ISOTROPIC (mean pairwise cosine ~0; true top-10
neighbors sit at only 0.30-0.41), so per-plane sign agreement for a true
neighbor is ~0.61 and ANY sign-LSH scheme needs a majority of the corpus
for high recall — query-directed multi-probe measures within noise of
the blind Hamming ball here (0.425 vs 0.413 at equal fraction). On
clustered data (every real embedding corpus) the same machinery
concentrates: tests/test_pipeline_ops.py pins recall >= 0.9 at
hamming<=1 on a 20-cluster fixture. hamming=2 is the serving default
(bounded probe cost); recall-sensitive callers dial up explicitly —
bench.py reports the measured curve every round."""


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    probe_hamming: int = DEFAULT_PROBE_HAMMING,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k, DECLARATIVE form: exact rescore inside the
    query's LSH bucket plus all buckets within ``probe_hamming`` bit
    flips, recomputing the bucketing inline — the oracle-checkable
    reference semantics. A probe stream should use the persisted
    :class:`BuiltAnnIndex` (:func:`ann_index_topk`): identical results
    (parity-tested), but the probe is a bucket-pruned partition read
    instead of a full corpus scan per query."""
    probes = probe_buckets_of(query_vec, num_planes, probe_hamming)
    b = lsh_buckets(embeddings, num_planes, id_col, emb_col, dim=len(query_vec))
    probe_ids = b.filter(F.col("bucket").isin(probes)).select(
        F.col("vec_id").alias("_probe_id")
    )
    cand = embeddings.join(
        probe_ids, F.col(id_col) == F.col("_probe_id"), "left_semi"
    )
    if tombstones is not None:
        tomb = tombstones.select(F.col("vec_id").alias(id_col)).distinct()
        cand = cand.join(F.broadcast(tomb), id_col, "left_anti")
    return cosine_topk(cand, query_vec, k, id_col, emb_col)


# ---------------------------------------------------------------------------
# Persisted ANN index: the build/query split (mirrors the text index —
# bucket the corpus ONCE, write partitioned by bucket, probe = pruned read)


@dataclass
class BuiltAnnIndex:
    root: str
    table_df: DataFrame  # (vec_id, embedding, bucket), partitionBy(bucket)
    num_planes: int
    n_vecs: int
    dim: int


def build_ann_index(
    spark: SparkSession,
    embeddings: DataFrame,
    out_dir: str,
    num_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> BuiltAnnIndex:
    """Bucket every vector once (signed-random-projection LSH) and
    persist the corpus partitioned by bucket. An ANN probe then reads
    ONLY the probed partitions (static partition pruning — the same
    property the text index's term-bucket layout gives Q2; asserted in
    scripts/audit_plans.py). One scan + two aggregations at build time,
    amortized over every subsequent query (round-2 verdict: the inline
    form re-bucketed the whole corpus per probe)."""
    vectors_path = os.path.join(out_dir, "vectors")
    os.makedirs(out_dir, exist_ok=True)
    first = embeddings.select(F.size(emb_col).alias("d")).first()
    dim = int(first["d"]) if first else 0
    # round 7: the bucket is a pure projection (_bucket_expr) — project
    # it straight onto the embedding row instead of computing a
    # (vec_id, bucket) side table and re-attaching it with a self-join
    # on vec_id (that join was a second full shuffle of the vectors)
    tbl = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("embedding"),
        _bucket_expr(emb_col, num_planes, dim).alias("bucket"),
    )
    # one file per bucket at test scale; at corpus scale the repartition
    # key bounds file count at num-shuffle-partitions per bucket
    write_table(tbl.repartition("bucket"), vectors_path, "bucket")
    table_df = spark.read.parquet(vectors_path)
    # n_vecs from the freshly written parquet footers (round 7): a
    # driver-side metadata read, zero Spark jobs — same move as the
    # build manifests (plans.build_index._partition_rows_parquet)
    from xsearch_spark.plans.build_index import _partition_rows_parquet

    n_vecs = sum(
        p["rows"] for p in _partition_rows_parquet(vectors_path, "bucket").values()
    )
    write_json(
        os.path.join(out_dir, "ann_stats.json"),
        {"num_planes": num_planes, "n_vecs": n_vecs, "dim": dim},
    )
    return BuiltAnnIndex(out_dir, table_df, num_planes, n_vecs, dim)


def load_ann_index(spark: SparkSession, out_dir: str) -> BuiltAnnIndex:
    with open(os.path.join(out_dir, "ann_stats.json")) as f:
        stats = json.load(f)
    return BuiltAnnIndex(
        out_dir,
        spark.read.parquet(os.path.join(out_dir, "vectors")),
        int(stats["num_planes"]),
        int(stats["n_vecs"]),
        int(stats["dim"]),
    )


def ann_index_topk(
    built: BuiltAnnIndex,
    query_vec: list[float],
    k: int = 10,
    probe_hamming: int = DEFAULT_PROBE_HAMMING,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """IVF probe over the persisted index: the probe set is computed
    driver-side in Python (zero Spark jobs to plan), the scan is pruned
    to the probed bucket partitions, and the exact cosine rescore +
    TakeOrderedAndProject run only over those candidates. Result is
    identical to :func:`ivf_topk` over the same corpus (parity-tested);
    cost is O(probed partitions), not O(corpus).

    ``tombstones`` — a (vec_id) DataFrame of deleted vectors (a training
    pipeline deletes embeddings as often as documents): applied as a
    broadcast anti-join INSIDE the pruned read, the vector mirror of the
    text index's S5 query-time deletes; fold them permanently by
    rebuilding with :func:`compact_ann_index`."""
    probes = probe_buckets_of(query_vec, built.num_planes, probe_hamming)
    cand = built.table_df.filter(F.col("bucket").isin(probes))
    if tombstones is not None:
        tomb = tombstones.select("vec_id").distinct()
        cand = cand.join(F.broadcast(tomb), "vec_id", "left_anti")
    return cosine_topk(cand, query_vec, k)


def compact_ann_index(
    spark: SparkSession,
    built: BuiltAnnIndex,
    tombstones: DataFrame,
) -> BuiltAnnIndex:
    """Fold vector deletes into the persisted ANN index: rewrite the
    bucket-partitioned table minus the tombstoned vec_ids (bucket
    assignments are delete-independent, so surviving rows are simply
    kept — no re-hash) through ``sources.io.write_table``, the text
    index's table writer.

    The passed-in ``built`` is mutated IN PLACE (``table_df``/``n_vecs``
    re-pointed at the rewritten directory, same contract as
    ``admin.compact``): the old ``table_df`` references a parquet
    directory this function deletes, so a caller holding the stale
    handle would otherwise hit FileNotFound/empty scans at its next
    action (round-4 advisor). The refreshed index is also returned for
    convenience."""
    vectors_path = os.path.join(built.root, "vectors")
    tomb = tombstones.select("vec_id").distinct()
    kept = built.table_df.join(F.broadcast(tomb), "vec_id", "left_anti")
    write_table(kept.repartition("bucket"), vectors_path, "bucket")
    table_df = spark.read.parquet(vectors_path)
    n_vecs = table_df.count()
    write_json(
        os.path.join(built.root, "ann_stats.json"),
        {"num_planes": built.num_planes, "n_vecs": n_vecs, "dim": built.dim},
    )
    built.table_df = table_df
    built.n_vecs = n_vecs
    return built


def embedding_near_dup_clusters(
    embeddings: DataFrame,
    threshold: float,
    num_planes: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """The embedding-modality keep/drop decision: cosine near-dup pairs
    (LSH-bucketed, never all-pairs) -> connected components ->
    (vec_id, keeper_vec_id). Same transitive-closure semantics and the
    same iterative component operator as the text-side
    dedup.near_dup_clusters — near-duplication is transitive in any
    modality."""
    from xsearch_spark.operators.dedup import connected_components

    pairs = embedding_cosine_pairs(
        embeddings, threshold, num_planes, id_col, emb_col, dim=dim
    ).select("vec_a", "vec_b")
    comp = connected_components(pairs, id_a="vec_a", id_b="vec_b")
    return comp.select(
        F.col("node").alias("vec_id"), F.col("comp").alias("keeper_vec_id")
    )
