"""Byte-parity of the segmented (round-6) merge against a per-group
reference implementation — the same guarantee the round-5 segmented pack
carries: the vectorization must be invisible in the output bytes.

The reference here re-states the PER-GROUP semantics the merge had
before segmentation (decode every run, concat / k-way sort, re-encode,
recompute block metadata, denormalize df) directly from the codec
primitives, so a regression in the flat-pass index arithmetic (offsets,
reduceat boundaries, delta-chain restarts, substream gathers) shows up
as a byte diff, not a subtle score drift."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xsearch_spark.constants import ATTR_TERM_PREFIX, BLOCK_SIZE
from xsearch_spark.functions import codec
from xsearch_spark.operators.segments import (
    _bm25_factor,
    _gather_substreams,
    _group_bounds,
    _merge_frame,
)


def _pack_run(term, shard, ids, tfs, dls, avgdl, poss=None, bucket=0):
    """One packed run row as the merge stage receives it."""
    starts = np.arange(0, ids.size, BLOCK_SIZE)
    row = {
        "term": term,
        "seg_id": 0,
        "shard": shard,
        "n_docs": int(ids.size),
        "sum_tf": int(tfs.sum()),
        "first_doc_id": int(ids[0]),
        "last_doc_id": int(ids[-1]),
        "doc_ids": codec.encode_doc_ids(ids.astype(np.uint64)),
        "tfs": codec.encode_tfs(tfs.astype(np.uint64)),
        "dls": codec.encode_tfs(dls.astype(np.uint64)),
        "poss": b"" if poss is None else codec.encode_tfs(poss.astype(np.uint64)),
        "block_last": ids[np.minimum(starts + BLOCK_SIZE - 1, ids.size - 1)]
        .astype(np.int64)
        .tolist(),
        "block_max": np.zeros(starts.size).tolist(),
        "avgdl": avgdl,
        "bucket": bucket,
    }
    return row


def _reference_merge(rows, avgdl):
    """Per-group reference: decode -> (sort) -> re-encode, the pre-round-6
    semantics, straight from the codec primitives."""
    pdf = pd.DataFrame(rows)
    starts = _group_bounds(pdf["term"].to_numpy(), pdf["shard"].to_numpy())
    ends = np.append(starts[1:], len(pdf))
    out = []
    for s, e in zip(starts, ends):
        g = pdf.iloc[s:e]
        ids = np.concatenate([codec.decode_doc_ids(b) for b in g["doc_ids"]])
        tfs = np.concatenate([codec.decode_tfs(b) for b in g["tfs"]]).astype(np.int64)
        dls = np.concatenate([codec.decode_tfs(b) for b in g["dls"]]).astype(np.int64)
        poss_out = b"".join(g["poss"])
        if not np.all(ids[1:] > ids[:-1]):
            order = np.argsort(ids, kind="mergesort")
            if poss_out:
                flat = np.concatenate([codec.decode_tfs(b) for b in g["poss"]])
                poss_out = codec.encode_tfs(_gather_substreams(flat, tfs, order))
            ids, tfs, dls = ids[order], tfs[order], dls[order]
        n = ids.size
        bst = np.arange(0, n, BLOCK_SIZE)
        row = {
            "term": g["term"].iloc[0],
            "shard": int(g["shard"].iloc[0]),
            "n_docs": int(n),
            "first_doc_id": int(ids[0]),
            "last_doc_id": int(ids[-1]),
            "doc_ids": codec.encode_doc_ids(ids.astype(np.uint64)),
            "tfs": codec.encode_tfs(tfs.astype(np.uint64)),
            "dls": codec.encode_tfs(dls.astype(np.uint64)),
            "poss": poss_out,
            "block_last": ids[np.minimum(bst + BLOCK_SIZE - 1, n - 1)]
            .astype(np.int64)
            .tolist(),
            "block_max": np.maximum.reduceat(
                _bm25_factor(tfs, dls, avgdl), bst
            ).tolist(),
            "bucket": int(g["bucket"].iloc[0]),
        }
        out.append(row)
    df_by_term = {}
    for r in out:
        if not r["term"].startswith(ATTR_TERM_PREFIX):
            df_by_term[r["term"]] = df_by_term.get(r["term"], 0) + r["n_docs"]
    for r in out:
        r["df"] = df_by_term.get(r["term"], 0)
    return out


def _random_frame(rng, with_positions, with_interleave, with_attr_term, avgdl):
    rows = []
    terms = [f"t{i:02d}" for i in range(rng.integers(3, 8))]
    if with_attr_term:
        terms.append(ATTR_TERM_PREFIX + "lang=en")
    for ti, term in enumerate(sorted(terms)):
        for shard in range(int(rng.integers(1, 4))):
            n_runs = int(rng.integers(1, 5))
            interleave = with_interleave and rng.random() < 0.4
            base = shard * 10_000
            pool = rng.choice(8_000, size=n_runs * 40, replace=False) + base
            pool.sort()
            if interleave:
                rng.shuffle(pool)
                chunks = np.array_split(pool, n_runs)
                chunks = [np.sort(c) for c in chunks if c.size]
                chunks.sort(key=lambda c: int(c[0]))
            else:
                chunks = [c for c in np.array_split(pool, n_runs) if c.size]
            for ids in chunks:
                ids = ids.astype(np.int64)
                tfs = rng.integers(1, 6, size=ids.size).astype(np.int64)
                is_attr = term.startswith(ATTR_TERM_PREFIX)
                if is_attr:
                    tfs = np.zeros(ids.size, dtype=np.int64)
                dls = rng.integers(1, 200, size=ids.size).astype(np.int64)
                poss = None
                if with_positions and not is_attr:
                    poss = rng.integers(1, 500, size=int(tfs.sum())).astype(np.int64)
                rows.append(
                    _pack_run(
                        term, shard, ids, tfs, dls, avgdl, poss,
                        bucket=ti % 4,
                    )
                )
    return rows


@pytest.mark.parametrize("with_positions", [False, True])
@pytest.mark.parametrize("with_interleave", [False, True])
@pytest.mark.parametrize("with_attr_term", [False, True])
def test_merge_frame_matches_reference(with_positions, with_interleave, with_attr_term):
    avgdl = 57.3
    for seed in range(3):
        rng = np.random.default_rng(1000 + seed)
        rows = _random_frame(rng, with_positions, with_interleave, with_attr_term, avgdl)
        pdf = pd.DataFrame(rows)
        starts = _group_bounds(pdf["term"].to_numpy(), pdf["shard"].to_numpy())
        got = _merge_frame(pdf, starts)
        want = _reference_merge(rows, avgdl)
        assert len(got) == len(want)
        for i, w in enumerate(want):
            g = got.iloc[i]
            for col in ("term", "shard", "n_docs", "first_doc_id", "last_doc_id"):
                assert g[col] == w[col], (i, col)
            for col in ("doc_ids", "tfs", "dls", "poss"):
                assert bytes(g[col]) == w[col], (i, col, w["term"])
            assert list(g["block_last"]) == w["block_last"], i
            assert np.allclose(list(g["block_max"]), w["block_max"], rtol=0, atol=0)
            assert g["df"] == w["df"] and g["bucket"] == w["bucket"], i


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 10**6),
    with_positions=st.booleans(),
    with_interleave=st.booleans(),
    with_attr_term=st.booleans(),
)
def test_merge_frame_matches_reference_hypothesis(
    seed, with_positions, with_interleave, with_attr_term
):
    """Hypothesis sweep over the same parity property — shrinkage finds
    minimal failing frame shapes if the flat-pass arithmetic regresses."""
    avgdl = 33.7
    rng = np.random.default_rng(seed)
    rows = _random_frame(rng, with_positions, with_interleave, with_attr_term, avgdl)
    pdf = pd.DataFrame(rows)
    starts = _group_bounds(pdf["term"].to_numpy(), pdf["shard"].to_numpy())
    got = _merge_frame(pdf, starts)
    want = _reference_merge(rows, avgdl)
    assert len(got) == len(want)
    for i, w in enumerate(want):
        g = got.iloc[i]
        assert (g["term"], g["shard"], g["n_docs"]) == (
            w["term"], w["shard"], w["n_docs"],
        ), i
        for col in ("doc_ids", "tfs", "dls", "poss"):
            assert bytes(g[col]) == w[col], (i, col, w["term"])
        assert list(g["block_last"]) == w["block_last"], i
        assert list(g["block_max"]) == w["block_max"], i
        assert (g["df"], g["bucket"]) == (w["df"], w["bucket"]), i


def test_merge_frame_duplicate_doc_id_raises():
    avgdl = 10.0
    ids = np.array([5, 9, 13], dtype=np.int64)
    rows = [
        _pack_run("dup", 0, ids, np.ones(3, np.int64), np.ones(3, np.int64), avgdl),
        _pack_run("dup", 0, ids[:1], np.ones(1, np.int64), np.ones(1, np.int64), avgdl),
    ]
    # second run re-states doc 5 -> overlapping ranges -> duplicate
    pdf = pd.DataFrame(rows).sort_values("first_doc_id", kind="stable")
    starts = _group_bounds(pdf["term"].to_numpy(), pdf["shard"].to_numpy())
    with pytest.raises(ValueError, match="duplicate doc_id"):
        _merge_frame(pdf, starts)


def test_merge_frame_positional_sync_raises():
    avgdl = 10.0
    a = _pack_run(
        "t", 0, np.array([1, 2], np.int64), np.ones(2, np.int64),
        np.ones(2, np.int64), avgdl, poss=np.array([3, 4], np.int64),
    )
    b = _pack_run(
        "t", 0, np.array([10, 11], np.int64), np.ones(2, np.int64),
        np.ones(2, np.int64), avgdl, poss=None,
    )
    pdf = pd.DataFrame([a, b])
    starts = _group_bounds(pdf["term"].to_numpy(), pdf["shard"].to_numpy())
    with pytest.raises(ValueError, match="positional stream out of sync"):
        _merge_frame(pdf, starts)
