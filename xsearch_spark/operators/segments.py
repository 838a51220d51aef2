"""Segment build, packing and merge (SURVEY.md B4–B7).

Reference parity (component-level [R] — the Go checkout is empty): each
xsearch shard accumulates an in-memory ``term -> postings`` map over a
slice of the ingested documents and flushes it as an immutable segment;
a background merge folds segments together. Pinned shape
(BASELINE.json:6): "partition-local posting-list construction ...
materialized as segment DataFrames, a shuffle-based segment merge keyed
by term with salted repartitioning for hot-term skew, and delta-encoded
varint-style posting compression".

Topology here:

  * A *segment* is a doc-id slice: ``seg_id = doc_id // docs_per_seg``.
    B4 tokenizes the source documents and packs each (seg_id, term)
    group into one compressed run in a single Arrow UDF
    (:func:`pack_from_source`, the only packer), flushing a segment's
    runs when the doc stream crosses its boundary.
  * B5 merge re-keys runs to ``shard = seg_id // segs_per_shard`` and
    concatenates presorted, disjoint runs per (term, shard). The shard
    key IS the salt (range-salting by doc-id slice, FIXTURES-pinned): a
    hot term ("def") has runs in every segment, and the (term, shard)
    key spreads its merge work across the cluster instead of funneling
    the full posting list through one task. Cold and hot terms take the
    same path; hot terms simply keep more than one final row, which also
    bounds row size at 10^12-doc scale and parallelizes query-time
    decode.
  * Doc lengths are denormalized into each run (a third varint stream)
    so query scoring never joins the billion-row doc_stats table.
  * B7 block-max: per 128-posting block, ``(last_doc_id, max_factor)``
    where factor = tf(k1+1)/(tf + k1(1-b+b*dl/avgdl)) — the
    term-independent part of the BM25 bound; the query side multiplies
    by idf. Stored as flat arrays (Arrow-friendly, no struct boxing).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xsearch_spark.constants import ATTR_TERM_PREFIX, B, BLOCK_SIZE, K1, attr_term
from xsearch_spark.functions import codec

PACKED_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("seg_id", LongType(), False),
        StructField("n_docs", LongType(), False),
        StructField("sum_tf", LongType(), False),  # Σtf: avgdl input w/o decode
        StructField("first_doc_id", LongType(), False),
        StructField("last_doc_id", LongType(), False),
        StructField("doc_ids", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
        StructField("dls", BinaryType(), False),
        # v6 positional stream: plain-varint 1-based token positions,
        # grouped per posting (substream lengths = the tfs stream), or
        # b"" when the index is built without positions — phrase queries
        # need it, everything else ignores it
        StructField("poss", BinaryType(), False),
        # segment-level block_max is PROVISIONAL (zeros when packed before
        # avgdl is known — the one-pass build); the merge recomputes real
        # block maxima and only the MERGED index is WAND-queried
        StructField("block_last", ArrayType(LongType()), False),
        StructField("block_max", ArrayType(DoubleType()), False),
    ]
)

DEFAULT_DOCS_PER_SEGMENT = 4096
DEFAULT_SEGS_PER_SHARD = 4


def _bm25_factor(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _pack_group(
    seg_id: int,
    term: str,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float | None,
    positions: np.ndarray | None = None,
) -> dict:
    """Encode one (seg_id, term) posting run. doc_ids pre-sorted unique.
    avgdl=None -> provisional zero block maxima (merge recomputes).
    ``positions``: flat per-posting position substreams (lengths = tfs)
    for the v6 positional stream; None -> non-positional (b"")."""
    n = doc_ids.size
    if n > 1 and not np.all(doc_ids[1:] > doc_ids[:-1]):
        # fail fast: duplicates here mean two documents share a doc_id
        # (broken S2 assignment) — caught at pack time, not query time
        raise ValueError(
            f"pack invariant violated: duplicate doc_id in run for term={term!r} "
            f"seg={seg_id} (doc_id assignment is not injective)"
        )
    starts = np.arange(0, n, BLOCK_SIZE)
    block_last = doc_ids[np.minimum(starts + BLOCK_SIZE - 1, n - 1)]
    if avgdl is None:
        block_max = np.zeros(starts.size, dtype=np.float64)
    else:
        block_max = np.maximum.reduceat(_bm25_factor(tfs, dls, avgdl), starts)
    return {
        "term": term,
        "seg_id": int(seg_id),
        "n_docs": int(n),
        "sum_tf": int(tfs.sum()),
        "first_doc_id": int(doc_ids[0]),
        "last_doc_id": int(doc_ids[-1]),
        "doc_ids": codec.encode_doc_ids(doc_ids),
        "tfs": codec.encode_tfs(tfs),
        "dls": codec.encode_tfs(dls),
        "poss": b"" if positions is None else codec.encode_tfs(positions),
        "block_last": block_last.astype(np.int64).tolist(),
        "block_max": block_max.tolist(),
    }


def _gather_substreams(
    flat: np.ndarray, counts: np.ndarray, perm: np.ndarray
) -> np.ndarray:
    """Reorder variable-length per-posting substreams of ``flat``
    (lengths = ``counts``) by the posting permutation ``perm`` —
    vectorized grouped gather, no per-posting Python loop."""
    # the varint decoder hands back uint64; mixed uint/int arithmetic
    # makes np.repeat raise a safe-cast error (hit on the interleaved
    # merge path at sf0.1 — partial pack runs arrive doc-unsorted)
    counts = np.asarray(counts).astype(np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts
    l2 = counts[perm]
    e2 = np.cumsum(l2)
    if e2.size == 0 or e2[-1] == 0:
        return flat[:0]
    idx = (
        np.arange(e2[-1], dtype=np.int64)
        - np.repeat(e2 - l2, l2)
        + np.repeat(starts[perm], l2)
    )
    return flat[idx]


def numeric_attr_fields(schema, attrs: tuple[str, ...]) -> tuple[str, ...]:
    """Classify ``attrs`` against a Spark schema: integer-typed scalar
    columns become NUMERIC attrs (order-preserving encoded values,
    FIXTURES.md §3.13); strings and array<string> keep the round-5
    behavior; float / array<numeric> RAISE (term dictionaries hold
    exact keys — quantize upstream). Returns the numeric subset in
    ``attrs`` order. Shared by every index producer so stats.json's
    ``num_attr_fields`` always matches what was packed."""
    from pyspark.sql.types import (
        ArrayType,
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    int_types = (ByteType, ShortType, IntegerType, LongType)
    by_name = {f.name: f.dataType for f in schema.fields}
    out: list[str] = []
    for fld in attrs:
        dt = by_name.get(fld)
        if isinstance(dt, int_types):
            out.append(fld)
        elif isinstance(dt, StringType):
            pass
        elif isinstance(dt, ArrayType) and isinstance(dt.elementType, StringType):
            pass
        elif dt is None:
            raise ValueError(f"attr column {fld!r} not in source schema")
        else:
            raise ValueError(
                f"attr column {fld!r} has unsupported type {dt}: supported "
                f"are string, array<string>, and scalar integers (encoded "
                f"order-preserving, FIXTURES.md §3.13) — floats must be "
                f"quantized upstream"
            )
    return tuple(out)


def _attr_pairs(vals: pd.Series, b_ids: np.ndarray, fld: str, numeric: bool = False):
    """(synthetic_terms, doc_ids) for one attribute column of a batch.
    Scalar columns emit one pair per non-null doc; ARRAY columns
    (round-5 multi-value attrs — tags/licenses) emit one pair per
    DISTINCT element per doc (a repeated element must not produce a
    duplicate (term, doc) posting — that trips the pack invariant).
    Distinctness via the factorize+combined-key trick, no per-element
    Python beyond the attr_term formatting. ``numeric`` (round-6,
    FIXTURES.md §3.13): values are int64 scalars encoded
    order-preserving (num_attr_encode) so term order == value order."""
    ok = vals.notna().to_numpy()
    cells = vals[ok]
    fld_ids = b_ids[ok]
    if len(cells) == 0:
        return np.empty(0, object), np.empty(0, np.int64)
    if numeric:
        from xsearch_spark.constants import num_attr_encode

        return (
            np.array(
                [attr_term(fld, num_attr_encode(v)) for v in cells],
                dtype=object,
            ),
            fld_ids,
        )
    first = cells.iloc[0]
    if not isinstance(first, (list, tuple, np.ndarray)):
        return (
            np.array([attr_term(fld, v) for v in cells], dtype=object),
            fld_ids,
        )
    import itertools

    lens = cells.map(len).to_numpy(np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, object), np.empty(0, np.int64)
    rep_ids = np.repeat(fld_ids, lens)
    flat = np.fromiter(
        itertools.chain.from_iterable(cells), dtype=object, count=total
    )
    keep = np.array([v is not None for v in flat], dtype=bool)
    flat, rep_ids = flat[keep], rep_ids[keep]
    if flat.size == 0:
        return np.empty(0, object), np.empty(0, np.int64)
    codes, uniques = pd.factorize(flat)
    # localize doc ids to batch-local codes before forming the combined
    # distinctness key: global_doc_id * len(uniques) can overflow int64
    # at 10^12-doc scale with large per-batch element cardinality
    # (round-5 advisor) — batch-local codes are bounded by batch size
    d_codes, d_uniq = pd.factorize(rep_ids)
    combined = d_codes.astype(np.int64) * np.int64(len(uniques)) + codes
    u = np.unique(combined)
    u_ids = np.asarray(d_uniq, dtype=np.int64)[(u // len(uniques)).astype(np.int64)]
    u_vals = np.asarray(uniques, dtype=object)[(u % len(uniques)).astype(np.int64)]
    return (
        np.array([attr_term(fld, v) for v in u_vals], dtype=object),
        u_ids,
    )


def _pack_groups_frame(
    group_segs: np.ndarray,
    group_terms: np.ndarray,
    ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    avgdl: float | None,
    pos_flat: np.ndarray | None = None,
) -> pd.DataFrame:
    """Pack ALL (seg, term) groups of one flush in vectorized passes —
    semantically (and byte-) identical to calling :func:`_pack_group`
    per group, but the codec/block/metadata work is one NumPy pass each
    plus a bytes-slice per group. Round-5 finding: per-run Python
    overhead (~10^6 tiny codec calls + dict-row DataFrame construction),
    not tokenization, dominated the build wall; segmented packing is
    the fix. ``group_segs``/``group_terms``: one entry per group;
    ``starts``: group start offsets into the posting arrays."""
    n = ids.size
    ends = np.append(starts[1:], n)
    n_docs = (ends - starts).astype(np.int64)
    # strictly-increasing invariant within every group (S2 injectivity)
    if n > 1:
        ok = ids[1:] > ids[:-1]
        ok[starts[1:] - 1] = True  # group boundaries exempt
        if not ok.all():
            bad = int(np.nonzero(~ok)[0][0]) + 1
            g = int(np.searchsorted(starts, bad, side="right")) - 1
            raise ValueError(
                f"pack invariant violated: duplicate doc_id in run for "
                f"term={group_terms[g]!r} seg={int(group_segs[g])} "
                f"(doc_id assignment is not injective)"
            )
    sum_tf = np.add.reduceat(tfs, starts).astype(np.int64)
    doc_blobs = codec.encode_doc_ids_segmented(ids, starts)
    tf_blobs = codec.encode_varints_segmented(tfs, starts)
    dl_blobs = codec.encode_varints_segmented(dls, starts)
    if pos_flat is not None:
        cumtf = np.concatenate([[0], np.cumsum(tfs)])
        poss_blobs = codec.encode_varints_segmented(pos_flat, cumtf[starts])
    else:
        poss_blobs = [b""] * starts.size
    # block metadata, all groups at once: per-group block counts ->
    # flat (group, block) rows -> gather block-last ids / reduceat maxima
    nb = (n_docs + BLOCK_SIZE - 1) // BLOCK_SIZE
    nb_cum = np.concatenate([[0], np.cumsum(nb)])
    total_blocks = int(nb_cum[-1])
    gid = np.repeat(np.arange(starts.size), nb)
    bidx = np.arange(total_blocks, dtype=np.int64) - nb_cum[gid]
    last_pos = starts[gid] + np.minimum(
        bidx * BLOCK_SIZE + BLOCK_SIZE - 1, n_docs[gid] - 1
    )
    bl_flat = ids[last_pos].astype(np.int64)
    if avgdl is None:
        bm_flat = np.zeros(total_blocks, dtype=np.float64)
    else:
        block_starts_flat = (starts[gid] + bidx * BLOCK_SIZE).astype(np.int64)
        bm_flat = np.maximum.reduceat(
            _bm25_factor(tfs, dls, avgdl), block_starts_flat
        )
    cuts = nb_cum[1:-1]
    return pd.DataFrame(
        {
            "term": group_terms,
            "seg_id": group_segs.astype(np.int64),
            "n_docs": n_docs,
            "sum_tf": sum_tf,
            "first_doc_id": ids[starts].astype(np.int64),
            "last_doc_id": ids[ends - 1].astype(np.int64),
            "doc_ids": doc_blobs,
            "tfs": tf_blobs,
            "dls": dl_blobs,
            "poss": poss_blobs,
            "block_last": np.split(bl_flat, cuts),
            "block_max": np.split(bm_flat, cuts),
        }
    )


def _group_bounds(*key_arrays: np.ndarray) -> np.ndarray:
    """Start indices of consecutive equal-key groups (arrays pre-sorted)."""
    n = key_arrays[0].size
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for a in key_arrays:
        change[1:] |= a[1:] != a[:-1]
    return np.nonzero(change)[0]


# ---------------------------------------------------------------------------
# B5: shuffle merge keyed by term, range-salted by shard


def merge_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas merger: sorted (term, shard, first_doc_id) run batches
    -> one concatenated run per (term, shard). Runs are disjoint doc-id
    ranges (segments are doc slices), so concatenation needs no re-sort;
    monotonicity is asserted. The precomputed ``bucket`` column rides
    through (constant per term) for the fused merge->layout topology
    (:func:`merge_to_index`), and the term's GLOBAL df is denormalized
    into every output row — all shards of a term live in one bucket
    partition, so the true collection-wide df is computable locally and
    warm queries read it straight from the pruned scan (no
    term-dictionary collect / broadcast on the driver; a billion-term
    source-code vocabulary never leaves the executors).

    The carry is therefore TERM-granular for real terms (a term's df
    needs all its shards in one frame). It holds packed (still-encoded)
    runs, so a hot term with many shards costs index-row bytes, not
    decoded postings."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if pdf.empty:
            continue
        terms = pdf["term"].to_numpy()
        shards = pdf["shard"].to_numpy()
        # term-granular carry for REAL terms (df needs all shards);
        # synthetic attr terms (v5) get df=0 and carry per (term, shard)
        # — a hot attr list (lang:en ~ half the corpus) must never be
        # held whole in one frame. Vectorized prefix test: this runs over
        # every run row of the merge.
        is_attr = pdf["term"].str.startswith(ATTR_TERM_PREFIX).to_numpy(bool)
        cbounds = _group_bounds(terms, np.where(is_attr, shards, -1))
        if cbounds.size > 1:
            last_start = cbounds[-1]
            carry = pdf.iloc[last_start:]
            pdf = pdf.iloc[:last_start]
            terms, shards = terms[:last_start], shards[:last_start]
        else:
            carry = pdf
            continue
        yield _merge_frame(pdf, _group_bounds(terms, shards))
    if carry is not None and not carry.empty:
        terms = carry["term"].to_numpy()
        shards = carry["shard"].to_numpy()
        yield _merge_frame(carry, _group_bounds(terms, shards))


def _merge_frame(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
    """Merge consecutive (term, shard) run groups — SEGMENTED (round 6,
    the same treatment round 5 gave the pack stage): one vectorized
    codec pass per Arrow frame instead of a decode + re-encode per
    group. Byte-identical to the per-group form (parity-tested) because:

      * tfs/dls/poss are PLAIN varint streams, so a merged group's blob
        is the byte-CONCATENATION of its runs' blobs — zero codec work;
      * doc_ids restart the delta chain at each run, so single-run
        groups pass through unchanged while multi-run groups re-encode
        through the same canonical segmented encoder the pack stage
        uses (LEB128: re-encode(decode(b)) == b);
      * block metadata is recomputed for ALL groups in one flat
        gather/reduceat pass (it always was recomputed — it depends on
        the global avgdl known only at merge time).

    Interleaved groups (streaming epochs whose doc ranges overlap —
    detected from the first/last columns without decoding) are k-way
    sorted per group and re-encoded individually; batch builds have
    none. Row order in == group order out."""
    n_rows = len(pdf)
    ends = np.append(starts[1:], n_rows)
    terms = pdf["term"].to_numpy()
    shards = pdf["shard"].to_numpy()
    nd = pdf["n_docs"].to_numpy(np.int64)
    first = pdf["first_doc_id"].to_numpy(np.int64)
    last = pdf["last_doc_id"].to_numpy(np.int64)
    sum_tf = pdf["sum_tf"].to_numpy(np.int64)
    avgdl = float(pdf["avgdl"].iloc[0])  # lit column: constant per frame
    n_groups = starts.size
    if (nd <= 0).any():
        raise ValueError("merge: packed run with n_docs <= 0")

    id_blobs = [bytes(b) for b in pdf["doc_ids"]]
    tf_blobs = [bytes(b) for b in pdf["tfs"]]
    dl_blobs = [bytes(b) for b in pdf["dls"]]
    ps_blobs = [_poss_bytes(b) for b in pdf["poss"]]
    big_id, big_tf, big_dl, big_ps = (
        b"".join(id_blobs), b"".join(tf_blobs), b"".join(dl_blobs), b"".join(ps_blobs)
    )

    def _byte_offsets(blobs: list[bytes]) -> np.ndarray:
        lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=n_rows)
        return np.concatenate([[0], np.cumsum(lens)])

    id_bo, tf_bo, dl_bo, ps_bo = (
        _byte_offsets(id_blobs), _byte_offsets(tf_blobs),
        _byte_offsets(dl_blobs), _byte_offsets(ps_blobs),
    )

    # ONE decode pass per stream for the whole frame
    tf_all = codec.decode_varints(big_tf).astype(np.int64)
    dl_all = codec.decode_varints(big_dl).astype(np.int64)
    deltas = codec.decode_varints(big_id)  # uint64; per-row delta chains
    total = int(nd.sum())
    if tf_all.size != total or dl_all.size != total or deltas.size != total:
        raise ValueError(
            f"merge: posting stream length mismatch vs n_docs "
            f"({deltas.size}/{tf_all.size}/{dl_all.size} vs {total})"
        )
    row_ps = np.concatenate([[0], np.cumsum(nd)])  # per-row posting offsets
    # absolute doc ids from the per-row delta chains: within row r,
    # ids[i] = C[i] - C[s_r] + deltas[s_r] (C = inclusive cumsum). The
    # arithmetic is exact mod 2^64 — uint64 wraparound cancels.
    c = np.cumsum(deltas, dtype=np.uint64)
    rs = row_ps[:-1]
    ids_all = c - np.repeat(c[rs] - deltas[rs], nd)

    g_ps = row_ps[starts]  # group posting offsets
    g_nd = np.add.reduceat(nd, starts)
    is_multi = (ends - starts) > 1

    # positional-stream sync: if a group carries positions, every run
    # with sum_tf>0 must carry them (mixing positional and
    # non-positional runs of one index is unsupported)
    g_ps_b0, g_ps_b1 = ps_bo[starts], ps_bo[ends]
    g_has_ps = g_ps_b1 > g_ps_b0
    bad_ps_row = (np.diff(ps_bo) == 0) & (sum_tf > 0)
    g_bad_ps = np.add.reduceat(bad_ps_row.astype(np.int64), starts) > 0
    viol = g_has_ps & g_bad_ps
    if viol.any():
        g = int(np.nonzero(viol)[0][0])
        raise ValueError(
            f"positional stream out of sync for term={terms[starts[g]]!r}: "
            f"a scoring run with sum_tf>0 carries no positions — mixing "
            f"positional and non-positional runs of one index is unsupported"
        )

    # interleaved groups (overlapping run ranges): k-way sort per group.
    # Detected WITHOUT decoding via first/last: runs arrive sorted by
    # first_doc_id, so the group is globally sorted iff every boundary
    # satisfies first[i] > last[i-1].
    bad = np.zeros(n_rows, dtype=bool)
    if n_rows > 1:
        bad[1:] = first[1:] <= last[:-1]
    bad[starts] = False
    inter_g = np.add.reduceat(bad.astype(np.int64), starts) > 0
    custom_td: dict[int, tuple[bytes, bytes]] = {}
    custom_ps: dict[int, bytes] = {}
    inter_idx = np.nonzero(inter_g)[0]
    if inter_idx.size:
        # round 7: ALL interleaved groups sort + re-encode in ONE
        # vectorized pass (grouped lexsort + segmented varint encode) —
        # the per-group argsort/encode loop cost ~2 Python codec calls
        # per group and dominated merge frames on fragmented inputs.
        # Positional groups (streaming epochs pre-compact) keep a
        # per-group substream gather below — rare by construction.
        elem_sel = np.repeat(inter_g, g_nd)
        sel_pos = np.nonzero(elem_sel)[0]
        gidx_sel = np.repeat(np.arange(n_groups), g_nd)[elem_sel]
        ids_sel = ids_all[sel_pos]
        order_sel = np.lexsort((ids_sel, gidx_sel))
        ids_srt = ids_sel[order_sel]
        same_g = gidx_sel[1:] == gidx_sel[:-1]
        dup = same_g & ~(ids_srt[1:] > ids_srt[:-1])
        if dup.any():
            j = int(np.nonzero(dup)[0][0])
            g = int(gidx_sel[j + 1])
            gi = slice(starts[g], ends[g])
            meta = pdf.iloc[gi][
                [c_ for c_ in ("seg_id", "shard", "first_doc_id", "last_doc_id", "n_docs") if c_ in pdf.columns]
            ].to_dict("records")
            g0 = int(np.searchsorted(gidx_sel, g, side="left"))
            pos = j - g0
            window = ids_srt[max(g0, j - 2):j + 3].astype(np.int64).tolist()
            raise ValueError(
                f"merge invariant violated: duplicate doc_id for "
                f"term={terms[starts[g]]!r} shard={shards[starts[g]]} "
                f"at pos {pos}: {window}; "
                f"runs={meta} (same doc indexed twice? apply S4 upsert/dedup first)"
            )
        # positional interleaved groups need the pre-sort tf counts and
        # the per-group permutation for the substream gather
        for g in inter_idx[g_has_ps[inter_idx]]:
            s, e = int(g_ps[g]), int(g_ps[g] + g_nd[g])
            ids_g = ids_all[s:e]
            order = np.argsort(ids_g, kind="mergesort")
            tf_g = tf_all[s:e]
            flat = codec.decode_tfs(big_ps[g_ps_b0[g]:g_ps_b1[g]])
            if flat.size != int(tf_g.sum()):
                raise ValueError(
                    f"positional stream out of sync for term="
                    f"{terms[starts[g]]!r}: {flat.size} positions vs "
                    f"sum(tf)={int(tf_g.sum())} — mixing positional and "
                    f"non-positional runs of one index is unsupported"
                )
            custom_ps[g] = codec.encode_tfs(_gather_substreams(flat, tf_g, order))
        ids_all[sel_pos] = ids_srt
        tf_all[sel_pos] = tf_all[sel_pos][order_sel]
        dl_all[sel_pos] = dl_all[sel_pos][order_sel]
        i_nd = g_nd[inter_idx]
        i_starts = np.concatenate([[0], np.cumsum(i_nd)[:-1]]).astype(np.int64)
        tf_blobs_i = codec.encode_varints_segmented(tf_all[sel_pos], i_starts)
        dl_blobs_i = codec.encode_varints_segmented(dl_all[sel_pos], i_starts)
        for j, g in enumerate(inter_idx):
            custom_td[int(g)] = (tf_blobs_i[j], dl_blobs_i[j])

    # doc_ids blobs: multi-run groups re-encode (delta chain must span
    # runs) through ONE segmented pass over their postings; single-run
    # groups pass their bytes through untouched
    out_id_blobs: list[bytes] = [b""] * n_groups
    if is_multi.any():
        elem_sel = np.repeat(is_multi, g_nd)
        m_nd = g_nd[is_multi]
        m_starts = np.concatenate([[0], np.cumsum(m_nd)[:-1]])
        m_blobs = codec.encode_doc_ids_segmented(ids_all[elem_sel], m_starts)
        mi = iter(m_blobs)
    for g in range(n_groups):
        out_id_blobs[g] = (
            next(mi) if is_multi[g] else big_id[id_bo[starts[g]]:id_bo[ends[g]]]
        )
    out_tf_blobs = [
        custom_td[g][0] if g in custom_td else big_tf[tf_bo[starts[g]]:tf_bo[ends[g]]]
        for g in range(n_groups)
    ]
    out_dl_blobs = [
        custom_td[g][1] if g in custom_td else big_dl[dl_bo[starts[g]]:dl_bo[ends[g]]]
        for g in range(n_groups)
    ]
    out_ps_blobs = [
        custom_ps[g] if g in custom_ps else big_ps[g_ps_b0[g]:g_ps_b1[g]]
        for g in range(n_groups)
    ]

    # block metadata for ALL groups in one flat gather/reduceat pass
    # (same shape as _pack_groups_frame): re-blocking shifts boundaries,
    # so per-run metadata is not reusable and block_max needs the global
    # avgdl anyway.
    nb = (g_nd + BLOCK_SIZE - 1) // BLOCK_SIZE
    nb_cum = np.concatenate([[0], np.cumsum(nb)])
    gid = np.repeat(np.arange(n_groups), nb)
    bidx = np.arange(int(nb_cum[-1]), dtype=np.int64) - nb_cum[gid]
    last_pos = g_ps[gid] + np.minimum(bidx * BLOCK_SIZE + BLOCK_SIZE - 1, g_nd[gid] - 1)
    bl_flat = ids_all[last_pos].astype(np.int64)
    bstarts_flat = (g_ps[gid] + bidx * BLOCK_SIZE).astype(np.int64)
    bm_flat = np.maximum.reduceat(_bm25_factor(tf_all, dl_all, avgdl), bstarts_flat)
    cuts = nb_cum[1:-1]

    out = pd.DataFrame(
        {
            "term": terms[starts],
            "shard": shards[starts].astype(np.int64),
            "n_docs": g_nd,
            "first_doc_id": ids_all[g_ps].astype(np.int64),
            "last_doc_id": ids_all[g_ps + g_nd - 1].astype(np.int64),
            "doc_ids": out_id_blobs,
            "tfs": out_tf_blobs,
            "dls": out_dl_blobs,
            "poss": out_ps_blobs,
            "block_last": np.split(bl_flat, cuts),
            "block_max": np.split(bm_flat, cuts),
        }
    )
    # global df per term = Σ merged n_docs over its shards (shards are
    # disjoint doc ranges, so the sum counts each doc once). All of a
    # term's shards are in this frame (term-granular carry in
    # merge_iter). Synthetic attr terms are never scored: their rows
    # carry no contribution, so the per-term sum pins their df to 0.
    out_terms = pd.Series(terms[starts])
    is_attr_out = out_terms.str.startswith(ATTR_TERM_PREFIX).to_numpy(bool)
    contrib = pd.Series(np.where(is_attr_out, 0, g_nd))
    out["df"] = contrib.groupby(out_terms).transform("sum").to_numpy(np.int64)
    out["bucket"] = pdf["bucket"].to_numpy()[starts].astype(np.int32)
    return out[[f.name for f in MERGED_SCHEMA.fields]]


def _poss_bytes(b) -> bytes:
    """Normalize a positions cell (bytes/bytearray/None) to bytes."""
    return b"" if b is None else bytes(b)


MERGED_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("shard", LongType(), False),
        StructField("n_docs", LongType(), False),
        StructField("first_doc_id", LongType(), False),
        StructField("last_doc_id", LongType(), False),
        StructField("doc_ids", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
        StructField("dls", BinaryType(), False),
        StructField("poss", BinaryType(), False),  # v6 positions (b"" = none)
        StructField("block_last", ArrayType(LongType()), False),
        StructField("block_max", ArrayType(DoubleType()), False),
        # global per-term doc frequency, denormalized so query-time idf
        # reads from the pruned scan (no driver-side term dictionary —
        # index layout v4, see plans/build_index.INDEX_FORMAT_VERSION)
        StructField("df", LongType(), False),
        StructField("bucket", IntegerType(), False),
    ]
)


# target packed-run rows per merge task (round 7): enough decode/concat
# work to amortize the per-task Python round-trip (~10-20 ms); at 8k
# runs/task a merge task runs ~1-2 s on this box
RUNS_PER_MERGE_TASK = 8192


def merge_to_index(
    segment_runs: DataFrame,
    avgdl: float,
    segs_per_shard: int = DEFAULT_SEGS_PER_SHARD,
    num_buckets: int = 64,
    n_runs: int | None = None,
) -> DataFrame:
    """B5 merge FUSED with the S6 bucket layout: one shuffle keyed by the
    term's bucket, partition-sorted by (term, shard, first_doc_id), merge
    UDF per consecutive (term, shard) group — the output leaves the UDF
    already bucket-partitioned and term-sorted, so the index write needs
    NO second exchange and no post-merge sort (the two-shuffle version
    spent as long re-laying-out the merged rows as merging them).

    Trade-off vs a (term, shard)-keyed shuffle: a term's shards all live
    in one bucket partition, so per-term merge parallelism is bounded by
    num_buckets rather than num_buckets x shards. With num_buckets >=
    2x cores (and thousands at prod scale) the bucket key spreads hot
    terms' decode bytes adequately; shard salting still bounds ROW size
    and query-time decode parallelism.
    """
    from xsearch_spark.functions.buckets import bucket_col

    runs = segment_runs.withColumn(
        "shard", (F.col("seg_id") / F.lit(segs_per_shard)).cast("long")
    ).withColumn("avgdl", F.lit(avgdl))
    runs = runs.withColumn("bucket", bucket_col(F.col("term"), num_buckets))
    # round 7: when the cluster has more slots than buckets (the local
    # bench: 64 buckets on 32 cores = 2 uneven waves), sub-split each
    # bucket by a TERM-determined salt so merge parallelism is ~8x cores
    # (measured 11.2 -> 8.0 s at sf1.0). The salt is a function of the
    # term, so every shard of a term still lands in one partition — the
    # df computation and the term-granular carry are untouched; the only
    # visible effect is salt_k files per bucket partition. At prod scale
    # num_buckets >> cores and the salt is 1 (inert).
    #
    # The salt is additionally SCALE-ADAPTIVE (round 7, guide §2.2):
    # when the caller knows the packed-run count, salt_k is bounded so
    # each merge task gets >= RUNS_PER_MERGE_TASK rows — a tiny build
    # otherwise fans one segment's worth of runs across 8x-cores tasks
    # whose per-task Python round-trips dominate (measured: the sf0.1
    # 5 000-doc documents merge+write spent 6.0 s across 256 tasks /
    # 446 files; runs-bounded salting returns it to num_buckets tasks).
    par = segment_runs.sparkSession.sparkContext.defaultParallelism
    salt_k = max(1, min(8, -(-8 * par // num_buckets)))
    if n_runs is not None:
        salt_k = max(
            1, min(salt_k, -(-n_runs // (RUNS_PER_MERGE_TASK * num_buckets)))
        )
    if salt_k > 1:
        runs = runs.repartition(
            num_buckets * salt_k,
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(salt_k)),
        ).sortWithinPartitions("bucket", "term", "shard", "first_doc_id")
    else:
        runs = runs.repartition(num_buckets, "bucket").sortWithinPartitions(
            "term", "shard", "first_doc_id"
        )
    return runs.mapInPandas(merge_iter, MERGED_SCHEMA)


# ---------------------------------------------------------------------------
# decode: packed runs -> long postings (Q3)

LONG_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf", LongType(), False),
        StructField("dl", LongType(), False),
    ]
)


def pack_from_source(
    source_df: DataFrame,
    text_col: str,
    doc_id_col: str = "doc_id",
    variant: str = "base",
    docs_per_segment: int = DEFAULT_DOCS_PER_SEGMENT,
    n_docs: int | None = None,
    attr_cols: "str | tuple[str, ...] | list[str] | None" = None,
    positions: bool = False,
) -> DataFrame:
    """ONE-PASS segment build: docs -> packed runs, no intermediate
    postings materialization (the shape xsearch itself uses — a shard
    tokenizes into its in-memory segment map and flushes packed; [R],
    SURVEY.md §3.1).

    Topology: at most one exchange of the (doc_id, text) pairs, by
    segment and sorted by doc_id (segments become contiguous), then a
    single Arrow UDF tokenizes, counts, accumulates a segment's postings
    and packs it when the doc stream crosses the segment boundary.
    Versus the two-stage path this removes: the 33M-row postings
    write+read, its shuffle, and a stage of manifests — the dominant
    fixed cost at high parallelism.

    Block maxima are emitted provisionally (zeros): they need the global
    avgdl, which isn't known until all documents are tokenized; the B5
    merge recomputes them (it always does) and only the merged index
    serves WAND queries. avgdl itself is recovered from the packed runs'
    ``sum_tf`` column without any decode.

    Parallelism notes (round-2 fixes, measured at sf0.1):

    * The repartition shuffles the FULL content column (~5 KB/doc) and
      re-sorts it — pure memory-bandwidth tax that does not scale on
      SMT cores. When the input is already split into at least
      cores-many partitions (the checkpointed ids table is written as
      contiguous doc-range files at scale precisely for this), the
      exchange+sort is SKIPPED: the packer tolerates any doc order and
      any range fragmentation, emitting partial runs that the B5 merge
      — which runs anyway — concatenates. The merged index is
      byte-identical either way (tested).
    * An input with too few partitions (a one-bucket ids checkpoint is
      one file, a streamed epoch a few) is exchanged and sorted by
      doc_id. The key is chosen from the input's segment count,
      ceil(``n_docs`` / ``docs_per_segment``):

      - at least cores-many segments, or ``n_docs`` not given (the
        key then needs no row count): a RANGE exchange on whole
        segments (``doc_id // docs_per_segment``) into up to 2 × cores
        partitions, so each (term, segment) leaves the packer as
        exactly one run. 2 × cores contiguous doc ranges emitted 1.75
        runs per (term, segment) on the 2 000-doc perfbench build.
        Range, not hash: hashing 4 segment keys into 8 partitions put
        segments 0 and 1 in one task (3 pack tasks for 4 segments); the
        sampling job costs less than that task (traced perfbench build,
        local[4]: pack 0.9–1.2 s against 1.3–1.5 s).
      - fewer segments than cores: 2 × cores contiguous doc ranges
        hashed into 2 × cores partitions. A segment key would
        cap the tokenize stage at one task per segment — partitioning
        by ``doc_id // docs_per_segment`` alone was the round-1 local[32]
        throughput regression (25 tasks on 32 cores), and a build under
        one segment would tokenize in ONE task. The ranges split a
        segment across tasks, so its terms leave as several partial
        runs that the merge concatenates. Contiguous ranges, not fine
        sub-segment chunks: two non-adjacent chunks of one segment
        hashed together pack as one sparse run overlapping its
        neighbours, which sends the merge group onto the interleaved
        k-way-sort path (round 7, sf0.1: 42 % of groups).

    ``attr_cols`` (index layout v5; a string or a sequence of column
    names): additionally emit one SYNTHETIC posting per (doc, field) —
    term = attr_term(field, value), tf=0, dl=0 — so per-doc attribute
    filters (``lang:``, ``source:``, license/domain on a real corpus)
    become pruned index reads at query time instead of per-query source
    scans. tf=0 keeps the synthetic stream out of the sum_tf-derived
    avgdl; docs with a NULL attribute emit nothing for that field (they
    can never pass its filter). Zero-token docs still emit their
    synthetic postings (membership in an allowlist is independent of
    having scorable terms).

    ``positions`` (index layout v6): pack the 1-based token-stream
    position of every occurrence into the ``poss`` varint stream
    (per-posting substreams, lengths = tf) — the input of phrase-query
    adjacency. Off by default: positions roughly double posting bytes.
    """
    attrs: tuple[str, ...] = (
        (attr_cols,) if isinstance(attr_cols, str) else tuple(attr_cols or ())
    )
    # numeric attrs (round-6 §3.13): classified ONCE from the driver-side
    # schema (a per-batch dtype sniff would misclassify all-null batches)
    num_fields = frozenset(numeric_attr_fields(source_df.schema, attrs))
    par = source_df.sparkSession.sparkContext.defaultParallelism

    def pack_docs_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xsearch_spark.operators.build import count_batch_coded

        # task-local term dictionary (round 7): postings carry integer
        # codes end-to-end inside the packer — the per-batch dictionary
        # (small, Zipf-deduplicated) is interned into it, so sorting and
        # grouping happen on int64 and per-posting term STRINGS are only
        # materialized once per emitted (seg, term) RUN at flush time.
        # (The old per-flush object-array factorize cost as much as the
        # whole tokenize kernel.)
        tdict: dict[str, int] = {}
        tlist: list[str] = []

        def _intern(t) -> int:
            code = tdict.get(t)
            if code is None:
                code = len(tlist)
                tdict[t] = code
                tlist.append(t)
            return code

        def _intern_batch(bdict: np.ndarray) -> np.ndarray:
            lut = np.empty(bdict.size, np.int64)
            for i, t in enumerate(bdict):
                lut[i] = _intern(t)
            return lut

        acc: dict[str, list] = {
            "terms": [], "ids": [], "tfs": [], "dls": [], "pos": []
        }
        cur_seg: int | None = None

        def flush() -> pd.DataFrame:
            codes = np.concatenate(acc["terms"])  # task-global int codes
            ids = np.concatenate(acc["ids"])
            tfs = np.concatenate(acc["tfs"])
            dls = np.concatenate(acc["dls"])
            pos = np.concatenate(acc["pos"]) if positions else None
            acc["terms"], acc["ids"], acc["tfs"], acc["dls"], acc["pos"] = (
                [], [], [], [], []
            )
            # group by term code WITHOUT any string work; group order
            # inside a file is irrelevant (the merge re-sorts), parquet
            # stats come from the merged index
            order = np.lexsort((ids, codes))
            codes, ids_s, tfs_s, dls_s = codes[order], ids[order], tfs[order], dls[order]
            starts = _group_bounds(codes)
            tarr = np.array(tlist, dtype=object)
            pos_s = None
            if positions:
                # the per-posting position substreams ride the same perm
                pos_s = _gather_substreams(pos, tfs, order)
            out = _pack_groups_frame(
                np.full(starts.size, cur_seg, dtype=np.int64),
                tarr[codes[starts]],
                ids_s,
                tfs_s,
                dls_s,
                starts,
                None,
                pos_s,
            )
            return out[[f.name for f in PACKED_SCHEMA.fields]]

        for pdf in batches:
            if pdf.empty:
                continue
            b_ids = pdf[doc_id_col].to_numpy(np.int64)
            res = count_batch_coded(
                pdf[text_col], b_ids, variant, with_positions=positions
            )
            pos_flat = None
            if res is not None:
                if positions:
                    pos_flat = res[5]
                bcodes, bdict, r_ids, r_tfs, r_dls = res[:5]
                g_terms = _intern_batch(bdict)[bcodes]
            if attrs:
                syn_t_parts: list[np.ndarray] = []
                syn_i_parts: list[np.ndarray] = []
                for fld in attrs:
                    f_terms, f_ids = _attr_pairs(
                        pdf[fld], b_ids, fld, numeric=fld in num_fields
                    )
                    syn_t_parts.append(f_terms)
                    syn_i_parts.append(f_ids)
                syn_terms_o = np.concatenate(syn_t_parts)
                syn_ids = np.concatenate(syn_i_parts)
                syn_terms = np.fromiter(
                    (_intern(t) for t in syn_terms_o),
                    dtype=np.int64,
                    count=syn_terms_o.size,
                )
                zeros = np.zeros(syn_ids.size, np.int64)
                if res is None:
                    terms, ids, tfs, dls = syn_terms, syn_ids, zeros, zeros
                else:
                    terms = np.concatenate([g_terms, syn_terms])
                    ids = np.concatenate([r_ids, syn_ids])
                    tfs = np.concatenate([r_tfs, zeros])
                    dls = np.concatenate([r_dls, zeros])
                if ids.size == 0:
                    continue
                # re-establish doc-contiguity so the seg-change flush sees
                # each segment once per batch (stable: real before synthetic)
                order = np.argsort(ids, kind="stable")
                if positions:
                    # synthetic postings carry tf=0 -> empty substreams,
                    # so the pre-perm counts array is just `tfs`
                    if pos_flat is None:
                        pos_flat = np.empty(0, np.int64)
                    pos_flat = _gather_substreams(pos_flat, tfs, order)
                terms, ids, tfs, dls = terms[order], ids[order], tfs[order], dls[order]
            else:
                if res is None:
                    continue
                terms, ids, tfs, dls = g_terms, r_ids, r_tfs, r_dls
            if positions and pos_flat is None:
                pos_flat = np.empty(0, np.int64)
            segs = ids // docs_per_segment
            bounds = _group_bounds(segs)
            ends = np.append(bounds[1:], segs.size)
            cumtf = (
                np.concatenate([[0], np.cumsum(tfs)]) if positions else None
            )
            for s, e in zip(bounds, ends):
                seg = int(segs[s])
                if cur_seg is not None and seg != cur_seg and acc["terms"]:
                    yield flush()
                cur_seg = seg
                acc["terms"].append(terms[s:e])
                acc["ids"].append(ids[s:e])
                acc["tfs"].append(tfs[s:e])
                acc["dls"].append(dls[s:e])
                if positions:
                    acc["pos"].append(pos_flat[cumtf[s]:cumtf[e]])
        if acc["terms"]:
            yield flush()

    docs = source_df.select(doc_id_col, text_col, *attrs)
    if docs.rdd.getNumPartitions() >= par:
        # input is already parallel enough: no exchange, no sort — the
        # packer handles arbitrary doc order via flush-on-seg-change
        return docs.mapInPandas(pack_docs_iter, PACKED_SCHEMA)
    n = par * 2
    if n_docs and -(-n_docs // docs_per_segment) < par:
        # fewer segments than cores: n contiguous doc ranges
        chunk = ((F.col(doc_id_col) * F.lit(n)) / F.lit(n_docs)).cast("long")
        docs = docs.repartition(n, chunk)
    else:
        # one task holds each segment whole: a (term, segment) flushes
        # as one run
        docs = docs.repartitionByRange(
            n, (F.col(doc_id_col) / F.lit(docs_per_segment)).cast("long")
        )
    return docs.sortWithinPartitions(doc_id_col).mapInPandas(
        pack_docs_iter, PACKED_SCHEMA
    )


def decode_postings(packed: DataFrame, include_attrs: bool = False) -> DataFrame:
    """Q3: mirror of the packing codec — packed runs back to long form.
    Vectorized: one NumPy concat per Arrow batch, never per-posting
    Python. The index rows' denormalized ``df`` is carried through
    (repeated per posting) so the relational scorer needs no term-stats
    join. Positions never cross this boundary (phrase adjacency reads
    them through :func:`decode_positions`); compaction never decodes —
    it purges encoded runs and re-merges them.

    Synthetic attribute runs (v5, tf=0 filter carriers) are excluded by
    default — they are not document postings; ``include_attrs=True``
    keeps them (the lang allowlist and attr-value decodes read them)."""
    if not include_attrs:
        packed = packed.filter(~F.col("term").startswith(ATTR_TERM_PREFIX))
    # project to exactly the columns the decoder reads BEFORE the Arrow
    # boundary (round 7, guide §4.1): mapInPandas is opaque to the
    # optimizer, so without this the scan reads and ships every index
    # column — block_last/block_max arrays, doc-range metadata — that
    # the decode never touches (also prunes the positional stream for
    # non-positional decodes, the round-6 poss rule)
    packed = packed.select("term", "doc_ids", "tfs", "dls", "df")
    schema = StructType(
        list(LONG_SCHEMA.fields) + [StructField("df", LongType(), False)]
    )

    def decode_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = [codec.decode_doc_ids(b) for b in pdf["doc_ids"]]
            tfs = [codec.decode_tfs(b) for b in pdf["tfs"]]
            dls = [codec.decode_tfs(b) for b in pdf["dls"]]
            lens = np.array([a.size for a in ids])
            terms = np.repeat(pdf["term"].to_numpy(), lens)
            yield pd.DataFrame(
                {
                    "term": terms,
                    "doc_id": np.concatenate(ids).astype(np.int64),
                    "tf": np.concatenate(tfs).astype(np.int64),
                    "dl": np.concatenate(dls).astype(np.int64),
                    "df": np.repeat(pdf["df"].to_numpy(np.int64), lens),
                }
            )

    return packed.mapInPandas(decode_iter, schema)


POSITIONS_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("pos", LongType(), False),
    ]
)


def decode_positions(packed: DataFrame) -> DataFrame:
    """v6: packed positional runs -> long (term, doc_id, pos) rows, one
    per token OCCURRENCE (1-based position in the analyzer's emitted
    stream) — the relational input of phrase adjacency (a phrase match
    is a k-way self-equijoin on (doc_id, pos + offset)). Vectorized like
    :func:`decode_postings`; synthetic attr runs carry tf=0 and emit
    nothing. Raises if a scoring run lacks positions (the index was
    built without ``positions=True``)."""
    packed = packed.filter(~F.col("term").startswith(ATTR_TERM_PREFIX))
    # project before the Arrow boundary (round 7, guide §4.1): the
    # positional decode reads only these four columns
    packed = packed.select("term", "doc_ids", "tfs", "poss")

    def decode_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = [codec.decode_doc_ids(b) for b in pdf["doc_ids"]]
            tfs = [codec.decode_tfs(b) for b in pdf["tfs"]]
            poss = [codec.decode_tfs(_poss_bytes(b)) for b in pdf["poss"]]
            for i, (t, p) in enumerate(zip(tfs, poss)):
                if p.size != int(t.sum()):
                    raise ValueError(
                        f"index row for term={pdf['term'].iloc[i]!r} has "
                        f"{p.size} positions for sum(tf)={int(t.sum())} — "
                        f"build the index with positions=True to serve "
                        f"phrase queries"
                    )
            row_tf = np.concatenate(tfs).astype(np.int64)
            row_ids = np.concatenate(ids).astype(np.int64)
            run_lens = np.array([a.size for a in ids])
            cols = {
                "term": np.repeat(
                    np.repeat(pdf["term"].to_numpy(), run_lens), row_tf
                ),
                "doc_id": np.repeat(row_ids, row_tf),
                "pos": np.concatenate(poss).astype(np.int64)
                if poss
                else np.empty(0, np.int64),
            }
            yield pd.DataFrame(cols)

    return packed.mapInPandas(decode_iter, POSITIONS_SCHEMA)
