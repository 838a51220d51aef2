"""Behavioral tests for the training-data pipeline operators (the
driver-parity sweep in test_driver_parity covers oracle equality; these
check semantics on constructed inputs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xsearch_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different text about spark and parquet files"),
        (4, "another unrelated document mentioning hash joins and scans"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(toy_docs):
    groups = dedup.exact_dup_groups(toy_docs, "text").collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 2
    assert groups[0]["keeper_doc_id"] == 0


def test_dedup_exact_keeps_min_id(toy_docs):
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(toy_docs, "text").collect())
    assert kept == [0, 2, 3, 4]


def test_lsh_finds_near_dups(toy_docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(toy_docs, "text", num_hashes=16, bands=4).collect()
    }
    assert (0, 1) in pairs  # exact dups always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup should collide
    assert (3, 4) not in pairs  # unrelated docs should not


def test_ngram_jaccard_values(toy_docs):
    pairs = dedup.lsh_candidate_pairs(toy_docs, "text", num_hashes=16, bands=4)
    j = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(toy_docs, pairs, "text", n=3).collect()
    }
    assert j[(0, 1)] == 1.0  # identical docs
    if (0, 2) in j:
        assert 0.0 < j[(0, 2)] < 1.0


def test_simhash_similar_docs_close(toy_docs):
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(toy_docs, "text").collect()}
    assert h[0] == h[1]  # identical text -> identical simhash

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(h[0], h[2]) < hamming(h[0], h[3])


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_cosine_topk_self_first(emb):
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding").collect()[0][0]
    top = similarity.cosine_topk(emb, qvec, k=5).collect()
    assert top[0]["vec_id"] == 7
    assert abs(top[0]["cos_sim"] - 1.0) < 1e-9
    sims = [r["cos_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ivf_topk_probe(emb):
    """IVF probe: the query's own bucket is always probed (self found at
    rank 1 with sim 1.0); wider Hamming probes only add candidates.
    (Recall on random gaussian embeddings is data-limited — the probe
    mechanics, not a recall SLA, are what this asserts.)"""
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding").collect()[0][0]
    a1 = similarity.ivf_topk(emb, qvec, k=10, num_planes=8, probe_hamming=0).collect()
    a2 = similarity.ivf_topk(emb, qvec, k=10, num_planes=8, probe_hamming=1).collect()
    assert a1 and a1[0]["vec_id"] == 7 and abs(a1[0]["cos_sim"] - 1.0) < 1e-9
    assert a2[0]["vec_id"] == 7
    assert len(a2) >= len(a1)  # wider probe never shrinks the result
    sims = [r["cos_sim"] for r in a2]
    assert sims == sorted(sims, reverse=True)


def test_probe_buckets_popcount_definition(emb):
    """probe_buckets_of must equal the SQL oracle's definition —
    {b : popcount(b XOR qbucket) <= h} — for every probe width (round-5
    fix: the old single-bit-flip form silently served h=2 as h=1)."""
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").collect()[0][0]
    P = 8
    qb = similarity.query_bucket_of(qvec, P)
    for h in range(0, 4):
        want = sorted(
            b for b in range(1 << P) if bin(b ^ qb).count("1") <= h
        )
        got = similarity.probe_buckets_of(qvec, P, probe_hamming=h)
        assert got == want, h


def test_ann_recall_tracked_monotone(emb):
    """The recall/latency dial must behave like one: recall@10 over the
    bench query-vector set is non-decreasing in probe width, reaches
    1.0 at the full-probe limit (hamming = num_planes == brute force),
    and the hamming-1 floor stays above the documented 0.15 (gaussian
    fixtures are data-limited — this floor catches a broken probe, not
    an SLA; the tracked number lives in bench.py's ann_recall_at_10)."""
    qvecs = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    recalls = {}
    for h in (1, 2, 8):
        hits = tot = 0
        for v in qvecs:
            brute = {r["vec_id"] for r in similarity.cosine_topk(emb, v, k=10).collect()}
            probe = {
                r["vec_id"]
                for r in similarity.ivf_topk(
                    emb, v, k=10, num_planes=8, probe_hamming=h
                ).collect()
            }
            hits += len(brute & probe)
            tot += len(brute)
        recalls[h] = hits / tot
    assert recalls[1] >= 0.15
    assert recalls[1] <= recalls[2] <= recalls[8]
    assert recalls[8] == 1.0


def test_ann_recall_concentrates_on_clustered_data(spark):
    """The isotropic driver fixtures bound LSH recall BY DATA (see
    similarity.DEFAULT_PROBE_HAMMING); this fixture has the structure a
    real embedding corpus has — 20 tight clusters — and there the same
    probe must concentrate: recall@10 >= 0.9 at hamming<=1 while
    probing a small corpus fraction. This is the operator-quality
    assertion the driver fixture cannot express."""
    import numpy as np

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(20, 16))
    rows = []
    for ci, c in enumerate(centers):
        for j in range(10):
            v = c + 0.05 * rng.normal(size=16)
            rows.append((ci * 10 + j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    hits = tot = probed = 0
    for qid in (0, 57, 113, 199):
        qvec = rows[qid][1]
        brute = {r["vec_id"] for r in similarity.cosine_topk(emb, qvec, k=10).collect()}
        got = similarity.ivf_topk(emb, qvec, k=10, num_planes=8, probe_hamming=1)
        probe = {r["vec_id"] for r in got.collect()}
        hits += len(brute & probe)
        tot += len(brute)
        probed += len(similarity.probe_buckets_of(qvec, 8, 1))
    assert hits / tot >= 0.9, f"clustered recall {hits / tot}"
    assert probed / 4 <= 9  # hamming-1 over 8 planes: 9 of 256 buckets


def test_ann_index_probe_equals_inline_ivf(emb, spark, tmp_path):
    """The persisted bucket-partitioned ANN index must be invisible in
    the results: ann_index_topk == the declarative inline-bucketing
    ivf_topk for every probe width, and the driver-side Python bucket
    twin must agree bit-for-bit with the Spark bucketing of the same
    vectors (that twin is what makes probe planning zero-Spark-jobs)."""
    built = similarity.build_ann_index(spark, emb, str(tmp_path / "ann"))
    assert built.n_vecs == emb.count()
    # Python twin parity on real vectors
    got = {r["vec_id"]: r["bucket"] for r in built.table_df.select("vec_id", "bucket").collect()}
    sample = emb.limit(40).collect()
    for r in sample:
        assert similarity.query_bucket_of(r["embedding"], 8) == got[r["vec_id"]], r["vec_id"]
    # probe parity at each Hamming width
    for vec_id in (0, 7):
        qvec = emb.filter(F.col("vec_id") == vec_id).select("embedding").collect()[0][0]
        for h in (0, 1):
            a = [
                (r["vec_id"], round(r["cos_sim"], 6))
                for r in similarity.ivf_topk(emb, qvec, k=10, num_planes=8, probe_hamming=h).collect()
            ]
            b = [
                (r["vec_id"], round(r["cos_sim"], 6))
                for r in similarity.ann_index_topk(built, qvec, k=10, probe_hamming=h).collect()
            ]
            assert a == b, (vec_id, h)
    # reload from disk serves identically
    re = similarity.load_ann_index(spark, built.root)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    assert (
        similarity.ann_index_topk(re, qvec, k=5).collect()
        == similarity.ann_index_topk(built, qvec, k=5).collect()
    )


def test_embedding_cosine_pairs_threshold(emb):
    out = similarity.embedding_cosine_pairs(emb.limit(200), threshold=0.5).collect()
    for r in out:
        assert round(r["cos_sim"], 6) >= 0.5  # threshold is at oracle precision
        assert r["vec_a"] < r["vec_b"]


# ---------------------------------------------------------------------------
# round-2 de-amplification: the pivoted-aggregate forms must equal the
# declarative exploded forms row-for-row (the pattern the build path
# already uses for fused postings — tests/test_fused_postings.py)


def test_minhash_pivoted_equals_exploded(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {
        (r["doc_id"], r["seed"]): r["minhash"]
        for r in dedup.minhash_signatures(docs, "text", num_hashes=8).collect()
    }
    b = {
        (r["doc_id"], r["seed"]): r["minhash"]
        for r in dedup.minhash_signatures_exploded(docs, "text", num_hashes=8).collect()
    }
    assert a == b


def test_simhash_pivoted_equals_exploded(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "text").collect()}
    b = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_exploded(docs, "text").collect()
    }
    assert a == b


def test_lsh_bucket_cap_guards_mega_cluster(spark):
    """Skew guard: 200 identical docs form one mega-bucket; without a cap
    the self-join yields ~200²/2 pairs, with the cap those buckets are
    dropped and only the small-cluster pairs survive."""
    rows = [(i, "exactly the same boilerplate license text here") for i in range(200)]
    rows += [(1000, "one unusual document alpha beta gamma delta epsilon zeta")]
    rows += [(1001, "one unusual document alpha beta gamma delta epsilon zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.lsh_candidate_pairs(docs, "text", num_hashes=8, bands=2).count()
    assert uncapped >= 200 * 199 // 2
    capped = dedup.lsh_candidate_pairs(
        docs, "text", num_hashes=8, bands=2, max_bucket_size=10
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert pairs == {(1000, 1001)}


def test_emb_lsh_bucket_cap(emb, spark):
    import pyspark.sql.functions as SF

    # duplicate one vector 50x -> a mega-bucket; cap drops it
    v = emb.filter(SF.col("vec_id") == 3).select("embedding").collect()[0][0]
    dup = spark.createDataFrame(
        [(10_000 + i, v) for i in range(50)], "vec_id long, embedding array<float>"
    )
    both = emb.limit(20).select("vec_id", "embedding").unionByName(dup)
    capped = similarity.lsh_candidate_pairs(both, num_planes=8, max_bucket_size=25)
    big = {r for r in capped.collect() if r["vec_a"] >= 10_000}
    assert not big  # the duplicated cluster's quadratic bucket is gone


def test_srp_bit_at_the_rounding_boundary(spark):
    """A dot product within one ulp of ±5e-7 gets the same bucket bit
    from every bucketing form — the NumPy projection the ANN build
    writes, the exploded Spark reference, the DuckDB oracle and the
    Python probe twin — and that bit is the correctly rounded one: set
    iff the double's exact value rounds half-even to 6 decimals >= 0.
    (Spark's and DuckDB's round(x, 6) send the double -5e-7 to -1e-6.)"""
    import math
    from decimal import ROUND_HALF_EVEN, Decimal

    import duckdb

    from xsearch_spark.oracles_pipeline import lsh_buckets_sql

    P, dim = 8, 4
    signs = similarity._plane_signs(P, dim)
    edges = [
        x
        for b in (-5e-7, 5e-7)
        for x in (math.nextafter(b, -1.0), b, math.nextafter(b, 1.0))
    ]
    rows, want = [], {}
    for vec_id, edge in enumerate(edges):
        # only dim 0 is non-zero, so every plane's dot is exactly ±edge
        vec = [edge * signs[0][0]] + [0.0] * (dim - 1)
        rows.append((vec_id, vec))
        want[vec_id] = sum(
            1 << p
            for p in range(P)
            if Decimal(vec[0] * signs[p][0]).quantize(Decimal("1e-6"), ROUND_HALF_EVEN) >= 0
        )
    assert len(set(want.values())) > 1  # the boundary really splits the bits

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    projection = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(emb, P).collect()}
    exploded = {
        r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets_exploded(emb, P).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    oracle = dict(con.execute(lsh_buckets_sql(P)).fetchall())
    probe = {vec_id: similarity.query_bucket_of(vec, P) for vec_id, vec in rows}
    assert projection == want
    assert exploded == want
    assert oracle == want
    assert probe == want


def test_lsh_buckets_projection_equals_exploded(emb):
    """Round-4: lsh_buckets is now a pure per-row projection (zip_with
    against literal sign arrays — no explode, no shuffle); it must equal
    the exploded reference form (the shape the DuckDB oracle mirrors)
    bit-for-bit on real vectors."""
    a = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(emb).collect()}
    b = {
        r["vec_id"]: r["bucket"]
        for r in similarity.lsh_buckets_exploded(emb).collect()
    }
    assert a == b
    # and the plan really is explode-free (no Generate, no Exchange)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        similarity.lsh_buckets(emb).explain("formatted")
    plan = buf.getvalue()
    assert "Generate" not in plan and "Exchange" not in plan


def test_ann_tombstones_probe_and_compact(emb, spark, tmp_path):
    """ANN deletes (round-4): probe-time tombstones must equal the
    inline IVF over the same corpus minus the deleted vectors, deleted
    vec_ids must never appear, and compact_ann_index must fold the
    deletes so an untombstoned probe over the compacted index serves
    the same results."""
    built = similarity.build_ann_index(spark, emb, str(tmp_path / "ann_t"))
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    tomb = emb.filter(F.col("vec_id") % 5 == 2).select("vec_id")
    want = [
        (r["vec_id"], round(r["cos_sim"], 6))
        for r in similarity.ivf_topk(
            emb, qvec, k=10, num_planes=8, probe_hamming=1, tombstones=tomb
        ).collect()
    ]
    got = [
        (r["vec_id"], round(r["cos_sim"], 6))
        for r in similarity.ann_index_topk(
            built, qvec, k=10, probe_hamming=1, tombstones=tomb
        ).collect()
    ]
    assert got == want
    deleted = {r["vec_id"] for r in tomb.collect()}
    assert not deleted & {v for v, _ in got}
    # fold: compacted index with NO query-time tombstones == probe with
    n_before = built.n_vecs
    compacted = similarity.compact_ann_index(spark, built, tomb)
    assert compacted.n_vecs == n_before - len(deleted)
    after = [
        (r["vec_id"], round(r["cos_sim"], 6))
        for r in similarity.ann_index_topk(
            compacted, qvec, k=10, probe_hamming=1
        ).collect()
    ]
    assert after == want
    # reload sees the folded stats
    re = similarity.load_ann_index(spark, compacted.root)
    assert re.n_vecs == compacted.n_vecs
    # round-4 advisor: compaction deletes the directory the old handle's
    # table_df pointed at — the passed-in handle must be mutated in
    # place (admin.compact contract) so callers keeping it stay valid
    assert compacted is built
    assert built.n_vecs == re.n_vecs
    still = [
        (r["vec_id"], round(r["cos_sim"], 6))
        for r in similarity.ann_index_topk(built, qvec, k=10, probe_hamming=1).collect()
    ]
    assert still == want


def test_lsh_planning_zero_jobs_with_dim(emb, spark):
    """Round-4 advisor: with ``dim`` supplied, constructing the LSH
    plans (buckets / candidate pairs / cosine pairs) must launch ZERO
    Spark jobs — planning is driver-side Python, the one-row dim probe
    stays off every hot path."""
    sc = spark.sparkContext
    group = "lsh_plan_probe"
    sc.setJobGroup(group, group)
    try:
        similarity.lsh_buckets(emb, num_planes=8, dim=8)
        similarity.lsh_candidate_pairs(emb, num_planes=8, dim=8)
        similarity.embedding_cosine_pairs(emb, threshold=0.2, num_planes=8, dim=8)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == [], (
        "LSH plan construction launched a Spark job — the dim probe is "
        "back on the hot path"
    )


def test_chunk_docs_coverage_and_overlap(spark):
    """Sliding chunks: every token lands in >=1 chunk, consecutive
    chunks overlap by exactly `overlap` tokens (except a short tail),
    chunk 0 starts at token 1, and zero-token docs emit nothing."""
    from xsearch_spark.functions.textops import chunk_docs

    docs = spark.createDataFrame(
        [
            (0, "a b c"),
            (1, " ".join(f"t{i}" for i in range(64))),
            (2, " ".join(f"t{i}" for i in range(65))),
            (3, "!!! ???"),  # tokenizes to zero tokens
            (4, " ".join(f"t{i}" for i in range(120))),
        ],
        "doc_id long, text string",
    )
    rows = chunk_docs(docs, "text", max_tokens=64, overlap=8).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_id"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    assert [r["n_tokens"] for r in by_doc[0]] == [3]
    assert [r["n_tokens"] for r in by_doc[1]] == [64, 8]
    assert [r["n_tokens"] for r in by_doc[2]] == [64, 9]
    assert [r["n_tokens"] for r in by_doc[4]] == [64, 64, 8]
    # stride semantics: chunk i starts at token i*(max-overlap); the
    # first `overlap` tokens of chunk i+1 are the last of chunk i
    c0, c1 = by_doc[4][0], by_doc[4][1]
    assert c0["chunk_text"].split()[56:] == c1["chunk_text"].split()[:8]
    # full coverage: concatenating de-overlapped chunks rebuilds the doc
    toks = []
    for i, r in enumerate(by_doc[4]):
        parts = r["chunk_text"].split()
        toks.extend(parts if i == 0 else parts[8:])
    assert toks == [f"t{i}" for i in range(120)]


def test_connected_components_transitive(spark):
    """Near-duplication is transitive: a chain a-b, b-c must fold into
    ONE cluster keyed by its min id even though (a, c) is not an edge;
    disjoint pairs stay separate; the propagation must cross multi-hop
    chains (diameter > 2)."""
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (30, 31), (50, 51), (51, 52), (52, 53), (53, 54)],
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["comp"] for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        10: 10, 11: 10, 12: 10,
        30: 30, 31: 30,
        50: 50, 51: 50, 52: 50, 53: 50, 54: 50,
    }


def test_connected_components_nonconvergence_raises(spark):
    """Round-4 advisor (medium): hitting max_iter before the fixpoint
    must RAISE, not silently return wrong (non-converged) labels — a
    chain of diameter 5 cannot converge in 2 sweeps."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=2)
    # with enough budget the same graph folds into one component
    got = {
        r["node"]: r["comp"]
        for r in dedup.connected_components(chain, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(7)}


def test_connected_components_one_heavy_action_per_sweep(spark):
    """Round-5: the convergence probe rides the label-update pass (a
    flag read back from the checkpointed partitions), not a second
    labels⋈labels shuffle join. Measured per-sweep Spark job count on
    this exact workload: 9 with the fused probe vs 12 with the round-4
    join probe — pin a ceiling between them so the join probe cannot
    silently come back."""
    sc = spark.sparkContext
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a long, doc_b long"
    )

    def jobs_for(max_iter: int) -> int:
        group = f"cc_sweep_{max_iter}"
        sc.setJobGroup(group, group)
        try:
            try:
                dedup.connected_components(chain, max_iter=max_iter)
            except RuntimeError:
                pass  # expected: the chain needs ~20 sweeps
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    per_sweep = (jobs_for(5) - jobs_for(2)) / 3.0
    assert per_sweep <= 10.5, (
        f"{per_sweep} Spark jobs per sweep — the convergence probe is "
        f"doing heavy per-iteration work again (round-4 shape measured 12)"
    )


def test_near_dup_clusters_on_planted_dups(spark):
    """Planted near-dups: three near-identical variants of one doc (one
    cluster, keeper = min id) plus unrelated docs (not emitted)."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    rows = [
        (0, base),
        (1, base + " tail token"),
        (2, "prefix token " + base),
        (3, "completely different content about spark query engines " * 6),
        (4, "another unrelated document mentioning hash joins and scans " * 6),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["keeper_doc_id"]
        for r in dedup.near_dup_clusters(docs, "text", threshold=0.5).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0}


def test_chunk_docs_randomized_python_parity(spark):
    """Randomized parity: chunk_docs over random unicode-ish texts must
    equal an independent pure-Python implementation of the frozen spec
    (base tokenizer + stride slicing)."""
    import random
    import re

    from xsearch_spark.constants import TOKEN_SPLIT_REGEX
    from xsearch_spark.functions.textops import chunk_docs

    rng = random.Random(2024)
    alphabet = ["hash", "join", "Scan", "naïve", "x1", "_", "!!", "日本", "a" * 30, ""]
    rows = []
    for i in range(200):
        n_words = rng.randint(0, 40)
        rows.append((i, " ".join(rng.choice(alphabet) for _ in range(n_words))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    max_tokens, overlap = 7, 2
    stride = max_tokens - overlap

    def py_chunks(doc_id, text):
        # independent span derivation: re.finditer over the LOWERED text
        # (the frozen position reference), spans applied to the original
        low = text.lower()
        matches = list(re.finditer(r"[a-z0-9_]+", low))
        toks = [m.group(0) for m in matches]
        assert toks == [t for t in re.split(TOKEN_SPLIT_REGEX, low) if t]
        out = []
        i = 0
        while i * stride < len(toks):
            sl = toks[i * stride : i * stride + max_tokens]
            first = matches[i * stride]
            last = matches[min(i * stride + max_tokens, len(toks)) - 1]
            cs, ce = first.start() + 1, last.end()  # 1-based inclusive
            out.append(
                (doc_id, i, len(sl), " ".join(sl), cs, ce, text[cs - 1 : ce])
            )
            i += 1
        return out

    want = sorted(c for did, t in rows for c in py_chunks(did, t))
    got = sorted(
        (
            r["doc_id"],
            r["chunk_id"],
            r["n_tokens"],
            r["chunk_text"],
            r["char_start"],
            r["char_end"],
            r["chunk_span"],
        )
        for r in chunk_docs(docs, "text", max_tokens, overlap).collect()
    )
    assert got == want
