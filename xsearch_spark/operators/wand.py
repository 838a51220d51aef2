"""Q8: block-max WAND query evaluation over the packed index, plus the
index-backed relational path (Q2 pruned scan + Q3 decode).

Reference parity: xsearch's searcher runs a document-at-a-time loop per
shard with BM25 scoring and WAND pruning against a local top-k heap,
then the proxy merges shard top-k's (component-level [R]; pinned by
BASELINE.json:6 "document-at-a-time posting-list intersection and
block-max WAND pruning to emit exact top-k").

Spark topology: the term-filtered index rows (a handful per query —
Q2's dictionary lookup is a bucket- and term-pruned parquet scan) are
repartitioned by ``shard`` so every query term's run for one doc-id
range lands in the same task; ``mapInPandas`` runs the scorer per shard;
per-shard exact top-k's union into the global exact top-k via
TakeOrderedAndProject (top-k is a monoid — the reference's
shard-heap + proxy-merge, Q9, for free).

The scorer is NumPy-vectorized block-at-a-time, not a per-doc Python
loop (the input_hint forbids per-row Python):

  * AND — galloping multi-list intersection (np.intersect1d over sorted
    unique arrays, smallest-df first), then exact vectorized scoring.
  * OR  — block-max pruning with exact rescore: an initial threshold
    theta = exact k-th score over the highest-impact term's postings;
    any 128-posting block whose bound idf_t*block_max_t + sum of other
    terms' global upper bounds is < theta cannot contain a top-k doc
    (the bound dominates any member's total score). Survivor-block docs
    are rescored EXACTLY against the full posting arrays (searchsorted
    gather), so pruning can only shrink the candidate set, never change
    a score — WAND output is bit-identical to the naive evaluation.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from xsearch_spark.constants import (
    B,
    BLOCK_SIZE,
    DEFAULT_TOP_K,
    K1,
    NUM_ATTR_WIDTH,
    attr_term,
    fuzzy_candidates,
    idf as idf_py,
    num_attr_decode,
    wildcard_regex,
    wildcard_scan_prefix,
)
from xsearch_spark.functions import codec
from xsearch_spark.functions.buckets import buckets_of
from xsearch_spark.plans.query import ParsedQuery

def _w(idf: float, tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _gather_scores(
    cand: np.ndarray,
    lists: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    idfs: dict[str, float],
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact scores + per-doc matched-term counts for candidate docs."""
    scores = np.zeros(cand.size, dtype=np.float64)
    nterms = np.zeros(cand.size, dtype=np.int64)
    for t, (ids, tfs, dls) in lists.items():
        idx = np.searchsorted(ids, cand)
        idx_c = np.minimum(idx, ids.size - 1)
        hit = (idx < ids.size) & (ids[idx_c] == cand)
        if hit.any():
            scores[hit] += _w(idfs[t], tfs[idx_c[hit]], dls[idx_c[hit]], avgdl)
            nterms[hit] += 1
    return scores, nterms


def _local_topk(
    cand: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    if cand.size > k:
        # keep everything at or above the k-th score (ties at the
        # boundary are broken by doc_id in the final lexsort)
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        keep = scores >= kth
        cand, scores = cand[keep], scores[keep]
    order = np.lexsort((cand, -scores))[:k]
    return cand[order], scores[order]


def score_shard(
    lists: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    blocks: dict[str, tuple[np.ndarray, np.ndarray]],
    idfs: dict[str, float],
    avgdl: float,
    parsed: ParsedQuery,
    k: int,
    exclude_lists: list[np.ndarray] | None = None,
    allowed: np.ndarray | None = None,
    pos_lists: dict[str, tuple] | None = None,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact local top-k for one shard. ``lists``: term -> (doc_ids, tfs,
    dls); ``blocks``: term -> (block_last, block_max_factor);
    ``pos_lists`` (v6): term -> (doc_ids, flat_positions, offsets) for
    phrase adjacency. ``after`` (round-6, FIXTURES.md §3.23): a
    (rounded_score, doc_id) cursor — only docs strictly after it in
    the (round6 DESC, doc_id ASC) order survive, and the returned
    scores are the ROUNDED values (the paging order's own key)."""
    if parsed.phrases and parsed.connective != "AND":
        # parse() forces AND whenever phrases exist; a hand-built
        # ParsedQuery(connective='OR', phrases=...) would otherwise pass
        # the top-k-pruned OR candidate set (NOT a superset of all
        # phrase-matching docs) through the phrase filter and silently
        # return an under-filled top-k (round-5 advisor)
        raise ValueError(
            "phrase queries require AND semantics (parse() enforces this); "
            "got a ParsedQuery with phrases and connective='OR'"
        )
    if parsed.min_match and parsed.connective != "OR":
        # parse() rejects min_match under AND; a hand-built ParsedQuery
        # would otherwise silently ignore it (AND already requires all)
        raise ValueError(
            "min_match requires OR semantics (parse() enforces this); "
            "got a ParsedQuery with min_match and connective='AND'"
        )
    present = [t for t in parsed.terms if t in lists]
    # term groups: prefix (round-6, FIXTURES.md §3.10 — the shard's
    # vocabulary terms under the prefix), fuzzy (§3.12 — the exactly-
    # enumerated d=1 neighborhood), boolean OR (§3.19 — an explicit
    # member set) and wildcard (§3.24 — anchored-glob membership). A
    # group behaves like ONE query term whose posting list is the union
    # of its local members' lists, while members score individually
    fuzzy_sets = [frozenset(fuzzy_candidates(b)) for b in parsed.fuzzies] + [
        frozenset(g) for g in parsed.groups
    ]
    wc_regexes = [re.compile(wildcard_regex(w)) for w in parsed.wildcards]
    member_sets = (
        [[t for t in lists if t.startswith(p)] for p in parsed.prefixes]
        + [[t for t in lists if t in s] for s in fuzzy_sets]
        + [[t for t in lists if rx.fullmatch(t)] for rx in wc_regexes]
    )
    # a member that is also a plain term scores once, as the plain term
    scored_terms = list(
        dict.fromkeys(
            present
            + [t for ms in member_sets for t in ms if t not in parsed.terms]
        )
    )
    if not scored_terms:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    if parsed.connective == "AND":
        if len(present) != len(parsed.terms):
            return np.empty(0, np.int64), np.empty(0, np.float64)
        group_lists = [lists[t][0] for t in present]
        for group in member_sets:
            # a member that is also a plain term still satisfies the group
            members = [lists[t][0] for t in group]
            if not members:  # no expansion in this shard -> no match
                return np.empty(0, np.int64), np.empty(0, np.float64)
            group_lists.append(
                members[0]
                if len(members) == 1
                else np.unique(np.concatenate(members))
            )
        cand = None
        for arr in sorted(group_lists, key=lambda a: a.size):
            cand = arr if cand is None else np.intersect1d(
                cand, arr, assume_unique=True
            )
            if cand.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.float64)
    else:
        msm = parsed.min_match
        clause_arrays = (
            _msm_clause_arrays(present, member_sets, lists)
            if msm
            else None
        )
        cand = _or_candidates(
            scored_terms,
            lists,
            blocks,
            idfs,
            avgdl,
            k,
            exclude_lists,
            allowed,
            msm=msm,
            clause_arrays=clause_arrays,
            after=after,
        )
        if msm:  # §3.20: >= msm satisfied clauses (only a filter)
            cand = cand[_msm_count(cand, clause_arrays) >= msm]
    cand = _apply_filters(cand, exclude_lists, allowed)
    if parsed.phrases:
        cand = _phrase_filter(
            cand,
            parsed.phrases,
            pos_lists or {},
            parsed.phrase_slops,
            parsed.phrase_prefixes,
        )
    if cand.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    scores, _ = _gather_scores(
        cand, {t: lists[t] for t in scored_terms}, idfs, avgdl
    )
    if after is not None:
        # §3.23: the cursor filter runs BEFORE the local heap (a doc
        # beyond the cursor may rank below the unfiltered local top-k),
        # and the heap orders by the rounded value — the paging key
        scores = _round6(scores)
        keep = _after_keep(cand, scores, after)
        cand, scores = cand[keep], scores[keep]
        if cand.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
    return _local_topk(cand, scores, k)


_POS_KEY_BASE = np.int64(1) << np.int64(32)
# bound on phrase length: the composite phrase key offsets positions by
# this (keys stay positive for any j < MAX_PHRASE_LEN); parse() and
# _phrase_filter both enforce it
MAX_PHRASE_LEN = 64


def _phrase_filter(
    cand: np.ndarray,
    phrases: tuple[tuple[str, ...], ...],
    pos_lists: dict[str, tuple],
    slops: tuple[int, ...] = (),
    pprefixes: tuple[str, ...] = (),
) -> np.ndarray:
    """Keep candidates containing every phrase: doc matches phrase
    (t_0..t_{m-1}) iff the intersection over j of the shifted position
    sets {(doc, pos - j) : pos in positions(t_j, doc)} is non-empty —
    one vectorized composite-key ``np.intersect1d`` chain across ALL
    candidates at once, no per-doc Python loop. Keys are
    local_doc_index * 2^32 + (pos - j + 64) (positions are 1-based and
    phrase length << 64, so the offset keeps keys positive).

    ``slops`` (round-6 proximity, parallel to ``phrases``; empty =
    all-zero): a phrase with slop > 0 uses the ordered-window chain
    (``_proximity_chain``) instead — slop 0 keeps this exact-adjacency
    intersection, which the proximity chain degenerates to (tested).

    ``pprefixes`` (round-6 §3.28 phrase-prefix, parallel; empty =
    all-exact): a non-empty body b adds one EXTRA final slot matched
    by ANY decoded term with prefix b — the union of the expansions'
    shifted position sets (distinct terms never share a position, so
    the union keys stay unique and the intersection argument holds
    unchanged)."""
    for pi, ph in enumerate(phrases):
        body = pprefixes[pi] if pi < len(pprefixes) else ""
        if pi < len(slops) and slops[pi] > 0:
            cand = _proximity_chain(cand, ph, slops[pi], pos_lists, body)
            continue
        if len(ph) + (1 if body else 0) > MAX_PHRASE_LEN:
            # the composite key packs (pos - j + MAX_PHRASE_LEN) into the
            # low 32 bits; a longer phrase could drive it negative and
            # bleed into the neighboring doc's key slot (round-5 advisor)
            raise ValueError(
                f"phrase of {len(ph) + (1 if body else 0)} terms exceeds "
                f"the supported maximum of {MAX_PHRASE_LEN}"
            )
        if cand.size == 0:
            return cand
        keys = None
        for j, t in enumerate(ph):
            occ = _gather_occurrences(cand, t, pos_lists)
            if occ is None:  # term absent from this shard: no match here
                return np.empty(0, np.int64)
            drep, pos_c = occ
            keys_t = drep * _POS_KEY_BASE + (pos_c - j + MAX_PHRASE_LEN)
            keys = (
                keys_t
                if keys is None
                else np.intersect1d(keys, keys_t, assume_unique=True)
            )
            if keys.size == 0:
                return np.empty(0, np.int64)
        if body:  # §3.28: the prefix slot at offset len(ph)
            drep, pos_c = _gather_occurrences_union(cand, body, pos_lists)
            keys_b = drep * _POS_KEY_BASE + (pos_c - len(ph) + MAX_PHRASE_LEN)
            keys = (
                keys_b
                if keys is None
                else np.intersect1d(keys, keys_b, assume_unique=True)
            )
            if keys.size == 0:
                return np.empty(0, np.int64)
        cand = cand[np.unique(keys // _POS_KEY_BASE)]
    return cand


def _gather_occurrences(
    cand: np.ndarray, t: str, pos_lists: dict[str, tuple]
) -> "tuple[np.ndarray, np.ndarray] | None":
    """All occurrences of ``t`` within the candidate docs, as parallel
    (local_doc_index, position) arrays sorted by (doc, pos). ``None``
    when the term has no postings in this shard."""
    pl = pos_lists.get(t)
    if pl is None:
        return None
    ids_t, flat_t, off_t = pl
    idx = np.searchsorted(ids_t, cand)
    idx_c = np.minimum(idx, ids_t.size - 1)
    if not ((idx < ids_t.size) & (ids_t[idx_c] == cand)).all():
        # AND semantics guarantee every candidate holds every
        # phrase term — a miss means caller wiring is broken
        raise ValueError(
            f"phrase term {t!r} missing from a candidate's postings"
        )
    starts = off_t[idx]
    cnts = off_t[idx + 1] - off_t[idx]
    ends = np.cumsum(cnts)
    total = int(ends[-1]) if ends.size else 0
    gather = (
        np.arange(total, dtype=np.int64)
        - np.repeat(ends - cnts, cnts)
        + np.repeat(starts, cnts)
    )
    pos_c = flat_t[gather].astype(np.int64)
    drep = np.repeat(np.arange(cand.size, dtype=np.int64), cnts)
    return drep, pos_c


def _gather_occurrences_union(
    cand: np.ndarray, body: str, pos_lists: dict[str, tuple]
) -> tuple[np.ndarray, np.ndarray]:
    """All occurrences of ANY decoded term with prefix ``body`` within
    the candidate docs (§3.28 phrase-prefix slot), as parallel
    (local_doc_index, position) arrays. Unlike the exact gatherer a
    specific expansion term need NOT appear in every candidate (the
    group is satisfied by >= 1 member), so per-term misses are
    filtered, not raised. The caller sorts when order matters."""
    dreps: list[np.ndarray] = []
    poss: list[np.ndarray] = []
    for t in pos_lists:
        if not t.startswith(body):
            continue
        ids_t = pos_lists[t][0]
        idx = np.searchsorted(ids_t, cand)
        idx_c = np.minimum(idx, ids_t.size - 1)
        hit = np.nonzero((idx < ids_t.size) & (ids_t[idx_c] == cand))[0]
        if hit.size == 0:
            continue
        drep_l, pos_c = _gather_occurrences(cand[hit], t, pos_lists)
        dreps.append(hit[drep_l])
        poss.append(pos_c)
    if not dreps:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(dreps), np.concatenate(poss)


def _proximity_chain(
    cand: np.ndarray,
    ph: tuple[str, ...],
    slop: int,
    pos_lists: dict[str, tuple],
    prefix_body: str = "",
) -> np.ndarray:
    """Ordered-window proximity (FIXTURES.md §3.8): doc matches iff
    positions i_1 < i_2 < … < i_m exist with t_j at i_j and
    i_m - i_1 <= (m-1) + slop. Greedy chaining — from each occurrence
    of t_0, repeatedly take the SMALLEST position of the next term
    strictly after the current one — minimizes i_m for every start, so
    existence reduces to min-span-over-starts <= bound: m-1 vectorized
    ``searchsorted`` passes over the start occurrences, no per-doc
    loop. Composite keys are local_doc_index * 2^32 + pos (1-based
    positions << 2^32); a chain step that lands in a different doc's
    key slot is dropped, never wraps. slop = 0 degenerates to exact
    adjacency (strictly increasing ints spanning m-1 are consecutive)
    and is served by the intersection chain in ``_phrase_filter``.

    ``prefix_body`` (§3.28): a non-empty body appends one final slot
    whose occurrence set is the UNION over decoded terms with the
    prefix (sorted — the greedy step's searchsorted needs it; distinct
    terms never share a position, so the union is duplicate-free and
    the minimal-next-position argument is unchanged)."""
    m_total = len(ph) + (1 if prefix_body else 0)
    if m_total > MAX_PHRASE_LEN:
        raise ValueError(
            f"phrase of {m_total} terms exceeds the supported maximum "
            f"of {MAX_PHRASE_LEN}"
        )
    if cand.size == 0:
        return cand
    keys_per_term = []
    for t in ph:
        occ = _gather_occurrences(cand, t, pos_lists)
        if occ is None:
            return np.empty(0, np.int64)
        drep, pos_c = occ
        keys_per_term.append(drep * _POS_KEY_BASE + pos_c)
    if prefix_body:
        drep, pos_c = _gather_occurrences_union(cand, prefix_body, pos_lists)
        if drep.size == 0:
            return np.empty(0, np.int64)
        keys_per_term.append(np.sort(drep * _POS_KEY_BASE + pos_c))
    cur = keys_per_term[0]
    start = cur
    for keys_j in keys_per_term[1:]:
        if cur.size == 0:
            return np.empty(0, np.int64)
        idx = np.searchsorted(keys_j, cur, side="right")
        ok = idx < keys_j.size
        nxt = keys_j[np.minimum(idx, keys_j.size - 1)]
        ok &= (nxt // _POS_KEY_BASE) == (cur // _POS_KEY_BASE)
        cur, start = nxt[ok], start[ok]
    bound = m_total - 1 + slop
    hit = (cur - start) <= bound
    if not hit.any():
        return np.empty(0, np.int64)
    return cand[np.unique(start[hit] // _POS_KEY_BASE)]


def _apply_filters(
    cand: np.ndarray,
    exclude_lists: list[np.ndarray] | None,
    allowed: np.ndarray | None,
) -> np.ndarray:
    if exclude_lists:
        for ex in exclude_lists:
            if ex.size:
                idx = np.searchsorted(ex, cand)
                idx_c = np.minimum(idx, ex.size - 1)
                cand = cand[~((idx < ex.size) & (ex[idx_c] == cand))]
    if allowed is not None:
        if allowed.size == 0:
            return np.empty(0, dtype=cand.dtype)
        idx = np.searchsorted(allowed, cand)
        idx_c = np.minimum(idx, allowed.size - 1)
        cand = cand[(idx < allowed.size) & (allowed[idx_c] == cand)]
    return cand


def _round6(x: np.ndarray) -> np.ndarray:
    """Half-up 6-decimal rounding of positive scores — the NumPy twin
    of the presentation rounding (Spark F.round / DuckDB round, both
    half-away-from-zero; scores are positive so half-up == both). The
    §3.23 paging total order is defined over THIS value."""
    return np.floor(x * 1e6 + 0.5) / 1e6


def _after_keep(
    cand: np.ndarray, rounded: np.ndarray, after: tuple[float, int]
) -> np.ndarray:
    """Mask of docs strictly AFTER the cursor in the §3.23 order
    (round6(score) DESC, doc_id ASC)."""
    cs, cd = after
    return (rounded < cs) | ((rounded == cs) & (cand > cd))


def _msm_clause_arrays(
    present: list[str],
    member_sets: list[list[str]],
    lists: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> list[np.ndarray]:
    """One sorted-unique doc array per positive CLAUSE (§3.20): each
    present plain term, then each prefix/fuzzy/boolean/wildcard group
    (the union of its local members' lists — satisfied by >= 1)."""
    return [lists[t][0] for t in present] + [
        np.unique(np.concatenate([lists[t][0] for t in ms]))
        if ms
        else np.empty(0, np.int64)
        for ms in member_sets
    ]


def _msm_count(cand: np.ndarray, clause_arrays: list[np.ndarray]) -> np.ndarray:
    """Satisfied-clause count per candidate (inputs sorted unique)."""
    cnt = np.zeros(cand.size, dtype=np.int64)
    for arr in clause_arrays:
        if arr.size:
            cnt += np.isin(cand, arr, assume_unique=True)
    return cnt


def _or_candidates(
    present: list[str],
    lists: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    blocks: dict[str, tuple[np.ndarray, np.ndarray]],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    exclude_lists: list[np.ndarray] | None = None,
    allowed: np.ndarray | None = None,
    msm: int = 0,
    clause_arrays: list[np.ndarray] | None = None,
    after: tuple[float, int] | None = None,
) -> np.ndarray:
    """Block-max pruned OR candidate set (superset of true top-k docs)."""
    total = sum(lists[t][0].size for t in present)
    if total <= 4 * k or len(present) == 1:
        return np.unique(np.concatenate([lists[t][0] for t in present]))
    # global per-term upper bound = idf * max block factor
    ub = {t: idfs[t] * float(np.max(blocks[t][1])) for t in present}
    # initial theta: exact k-th score over the postings of the highest-ub
    # term (full scoring of that term's doc set against all terms).
    # The seed must see the SAME exclude/lang filters the final scoring
    # applies: an excluded seed doc could otherwise inflate theta above
    # the true post-filter k-th score and prune blocks holding genuine
    # top-k docs (round-1 advisor finding). theta from a filtered SUBSET
    # is always <= the true k-th score, so pruning stays exact.
    seed_term = max(present, key=lambda t: ub[t])
    seed = _apply_filters(lists[seed_term][0], exclude_lists, allowed)
    if msm and clause_arrays is not None:
        # §3.20: theta must come only from msm-QUALIFYING docs — a
        # non-qualifying seed doc could inflate theta above the true
        # post-filter k-th score and prune blocks holding genuine
        # top-k docs (the same subset-seed rule as exclude/lang)
        seed = seed[_msm_count(seed, clause_arrays) >= msm]
    seed_scores, _ = _gather_scores(seed, {t: lists[t] for t in present}, idfs, avgdl)
    if after is not None:
        # §3.23: theta must come only from docs BEYOND the cursor —
        # same subset-seed exactness rule as exclude/lang/msm
        keep = _after_keep(seed, _round6(seed_scores), after)
        seed, seed_scores = seed[keep], seed_scores[keep]
    if seed.size >= k:
        theta = float(np.partition(-seed_scores, k - 1)[k - 1] * -1.0)
        # the block bound (idf * max_factor summed per term) and the exact
        # score (sum of idf*tf*(k1+1)/denom) associate float ops
        # differently — a mathematically-equal bound can land 1 ulp below
        # theta and prune the very document that set it (found by the
        # Hypothesis sweep). Relax by a relative epsilon: pruning less is
        # always exact, pruning on a hairline never is.
        theta -= 1e-9 * max(1.0, abs(theta))
        if after is not None:
            # §3.23: the paging order ranks by ROUNDED score — a doc
            # whose raw score sits up to one rounding quantum below
            # theta can still tie the k-th rounded value and win by
            # doc_id, so the raw-score pruning bound must relax by it
            theta -= 1e-6
    else:
        theta = -np.inf
    keep_docs = []
    for t in present:
        ids, _, _ = lists[t]
        b_last, b_max = blocks[t]
        rest_ub = sum(ub[u] for u in present if u != t)
        bound = idfs[t] * np.asarray(b_max, dtype=np.float64) + rest_ub
        live = bound >= theta  # strict-< pruning keeps boundary ties exact
        if live.all():
            keep_docs.append(ids)
            continue
        starts = np.arange(0, ids.size, BLOCK_SIZE)
        ends = np.minimum(starts + BLOCK_SIZE, ids.size)
        for s, e in zip(starts[live], ends[live]):
            keep_docs.append(ids[s:e])
    if not keep_docs:
        return np.empty(0, np.int64)
    return np.unique(np.concatenate(keep_docs))


# ---------------------------------------------------------------------------
# Spark-side wiring


def sql_literal(s: str) -> str:
    """``s`` as a Spark SQL string literal that no text can break out of:
    its UTF-8 bytes as a hex binary literal cast back to STRING. No
    quote, backslash, ``${...}`` variable reference or ``\\x01`` in ``s``
    reaches the parser as syntax, and constant folding turns the cast
    back into a plain literal before filter pushdown. A filter written
    as one SQL string costs one py4j round trip however many literals it
    holds, where ``Column.isin`` pays one per literal."""
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def _sql_in(col: str, values) -> str:
    return f"{col} IN ({', '.join(sql_literal(v) for v in values)})"


def pruned_index_scan(index_df: DataFrame, terms: list[str], num_buckets: int) -> DataFrame:
    """Q2: dictionary lookup = bucket-pruned + term-filtered scan. The
    bucket ids come from the Python twin of the write-path hash
    (functions.buckets) — no Spark job is spent on query planning."""
    if not terms:
        return index_df.limit(0)
    buckets = ", ".join(str(int(b)) for b in buckets_of(terms, num_buckets))
    return index_df.where(f"bucket IN ({buckets}) AND {_sql_in('term', terms)}")


def pruned_index_scan_prefix(
    index_df: DataFrame,
    terms: list[str],
    prefixes: list[str],
    num_buckets: int,
    term_ranges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Q2 dictionary lookup with prefix groups (round-6, FIXTURES.md
    §3.10). Without prefixes or ranges this is the bucket-pruned exact
    scan. Otherwise it is ONE ``where`` over data columns only:
    ``startswith(term, prefix) OR (term >= lo AND term <= hi) OR term IN
    (exact)``. The md5 bucket layout cannot partition-prune a prefix
    range (that is the price of hash bucketing — the same trade Lucene's
    hashed term dictionaries make), so a prefix scan opens every bucket
    file anyway and the exact terms ride it; ``bucket`` stays out of the
    OR, because a filter that names a partition column is not pushed to
    parquet.
    Rows within each bucket file are term-sorted (sortWithinPartitions),
    so the pushed ``StringStartsWith`` filter prunes to the few row
    groups whose [min, max] term range straddles the prefix — per
    bucket, a dictionary range seek, not a scan. Synthetic attr terms
    (``\\x01`` prefix) can never match a ``[a-z0-9_]+`` prefix.

    ``term_ranges`` (round-6 §3.13): [lo_term, hi_term] closed intervals
    over the ENCODED numeric attr namespace — pushed as >=/<= string
    comparisons, which parquet row-group min/max statistics turn into a
    per-bucket value-interval seek (the doc-values read of a numeric
    range filter).

    The whole filter is one SQL string (``sql_literal``), so the plan
    costs the same few py4j round trips for one term or a fuzzy
    neighborhood of hundreds."""
    conds = [f"startswith(term, {sql_literal(p)})" for p in prefixes or []] + [
        f"(term >= {sql_literal(lo)} AND term <= {sql_literal(hi)})"
        for lo, hi in term_ranges or []
    ]
    if not conds:
        return pruned_index_scan(index_df, terms, num_buckets)
    # the exact list goes last: a plan prints its pushed filters cut to
    # ~100 characters, and a fuzzy list of hundreds of terms would hide
    # the prefix and range bounds behind it
    if terms:
        conds.append(_sql_in("term", terms))
    return index_df.where(" OR ".join(conds))


# every column the Arrow scorer (_assemble_shard / _split_range_rows)
# actually decodes; shard is the exchange and grouping key
_SCORER_COLS = (
    "term", "shard", "doc_ids", "tfs", "dls", "block_last", "block_max",
    "df", "poss",
)


def _project_scorer_cols(rows: DataFrame, need_positions: bool) -> DataFrame:
    """Project the pruned scan to exactly the columns the scorer decodes
    BEFORE the Arrow boundary (round 7, guide §4.1): mapInPandas is
    opaque to the optimizer, so without an explicit select every
    warm query also reads (parquet ReadSchema) and ships (Arrow) the
    doc-range metadata — n_docs, first_doc_id, last_doc_id, bucket —
    that the scorer never touches. The positional stream (``poss``) is
    kept only for position-decoding queries: positions roughly double
    posting bytes, and the plan audit asserts a non-phrase ReadSchema
    excludes it (round-5 verdict weak mark #1). ``selectExpr`` passes
    the names as one list: ``select`` of string names resolves each
    name in its own py4j round trips."""
    return rows.selectExpr(
        *[c for c in _SCORER_COLS if need_positions or c != "poss"]
    )


def _assemble_shard(
    g: pd.DataFrame,
    exclude_terms: set[str],
    avgdl: float,
    attr_terms: set[str] | frozenset[str] = frozenset(),
    position_terms: set[str] | frozenset[str] = frozenset(),
) -> tuple:
    """Decode one shard's index rows into per-term posting arrays.

    Returns (lists, blocks, exclude_lists, dfs, attr_lists, pos_lists).
    ``pos_lists`` (only for ``position_terms`` — phrase members) maps
    term -> (doc_ids, flat_positions, offsets) where posting i's
    positions are ``flat[offsets[i]:offsets[i+1]]``. ``dfs`` is the
    global per-term df read from the index rows (every row of a term
    carries the same collection-wide value, stamped at merge time) —
    this is what lets a warm query compute idf executor-side with zero
    driver stats state. ``attr_lists`` maps each requested synthetic
    attribute term (``attr_term("lang", x)``) to its sorted doc-id
    allowlist for this shard; such runs are filter carriers (tf=0),
    never scored. Block maxima are read from the rows, never recomputed,
    so ``avgdl`` is not consulted.

    A (term, shard) key is unique in every merged index. A raw union of
    merged indexes can repeat it, but each copy carries its own
    sub-index's global df — no locally computable combination yields the
    true collection df (it depends on which sub-indexes have runs in
    which shards), so scoring such a union would silently corrupt the
    top-k merge (round-3 advisor). A repeated key raises: route unions
    through merge_to_index / streaming.compact_segments.
    """
    lists: dict[str, tuple] = {}
    blocks: dict[str, tuple] = {}
    pos_lists: dict[str, tuple] = {}
    ex_lists: list[np.ndarray] = []
    dfs: dict[str, int] = {}
    attr_acc: dict[str, list[np.ndarray]] = {}
    for r in g.itertuples(index=False):
        ids = codec.decode_doc_ids(r.doc_ids).astype(np.int64)
        if r.term in exclude_terms:  # exclusion wins over positive
            ex_lists.append(ids)
            continue
        if r.term in attr_terms:
            attr_acc.setdefault(r.term, []).append(ids)
            continue
        if r.term in lists:
            raise ValueError(
                f"repeated (term, shard) index rows for term={r.term!r} "
                f"shard={int(r.shard)}: raw unions of merged indexes carry "
                f"per-sub-index df values and cannot be scored consistently "
                f"— merge them first (segments.merge_to_index / "
                f"streaming.compact_segments)"
            )
        tfs = codec.decode_tfs(r.tfs).astype(np.int64)
        lists[r.term] = (ids, tfs, codec.decode_tfs(r.dls).astype(np.int64))
        blocks[r.term] = (
            np.asarray(r.block_last, dtype=np.int64),
            np.asarray(r.block_max, dtype=np.float64),
        )
        dfs[r.term] = int(r.df)
        if r.term in position_terms:
            flat = codec.decode_tfs(bytes(r.poss)).astype(np.int64)
            if flat.size != int(tfs.sum()):
                raise ValueError(
                    f"phrase query needs positions for term={r.term!r} but "
                    f"the index rows carry none — build with positions=True "
                    f"(index layout v6)"
                )
            pos_lists[r.term] = (
                ids,
                flat,
                np.concatenate([[0], np.cumsum(tfs)]).astype(np.int64),
            )
    attr_lists: dict[str, np.ndarray] = {}
    for t, runs_a in attr_acc.items():
        ids_a = runs_a[0] if len(runs_a) == 1 else np.sort(np.concatenate(runs_a))
        attr_lists[t] = ids_a
    return lists, blocks, ex_lists, dfs, attr_lists, pos_lists


_EMPTY_I64 = np.empty(0, np.int64)


def _attr_range_specs(built, parsed: ParsedQuery) -> list[tuple[str, str]]:
    """[lo_term, hi_term] encoded-term intervals for the query's numeric
    range filters (round-6, FIXTURES.md §3.13). Requires the field in
    the index's ``num_attr_fields`` (order-preserving encoded values) —
    a range over a string-attr or unindexed field RAISES; a silent
    source scan would be the 10^12-doc anti-pattern."""
    from xsearch_spark.constants import (
        NUM_ATTR_WIDTH,
        num_attr_encode,
    )

    out: list[tuple[str, str]] = []
    for fld, lo, hi in parsed.ranges:
        if not built.has_num_attr(fld):
            raise ValueError(
                f"{fld}: range filter requires the field in the index's "
                f"num_attr_fields (integer attr_cols, FIXTURES.md §3.13); "
                f"this index carries {built.num_attr_fields!r}"
            )
        lo_enc = num_attr_encode(lo) if lo is not None else "0" * NUM_ATTR_WIDTH
        hi_enc = num_attr_encode(hi) if hi is not None else "9" * NUM_ATTR_WIDTH
        out.append((attr_term(fld, lo_enc), attr_term(fld, hi_enc)))
    return out


def _split_range_rows(
    g: pd.DataFrame, range_specs: list[tuple[str, str]]
) -> tuple[pd.DataFrame, list[np.ndarray]]:
    """Split a shard's scanned rows into (non-range rows, one sorted
    doc-id allowlist per range interval). Row terms are compared as
    strings — the encoding makes string order == value order, so a
    range's allowlist is the union of its in-interval value terms'
    postings."""
    if not range_specs:
        return g, []
    terms = g["term"]
    masks = [
        ((terms >= lo) & (terms <= hi)).to_numpy(bool) for lo, hi in range_specs
    ]
    lists: list[np.ndarray] = []
    for m in masks:
        ids = [
            codec.decode_doc_ids(b).astype(np.int64)
            for b in g["doc_ids"][m]
        ]
        lists.append(
            np.unique(np.concatenate(ids)) if ids else np.empty(0, np.int64)
        )
    rest = g[~np.logical_or.reduce(masks)]
    return rest, lists


def _scaled_idfs(idfs: dict[str, float], parsed: ParsedQuery) -> dict[str, float]:
    """Fold per-term boosts (round-6, FIXTURES.md §3.15) into the idf
    map: boost·w(t,d) == (boost·idf)·tf·(k1+1)/(...), so scaling idf is
    the complete implementation — WAND's block-max bounds derive from
    the same map and stay valid upper bounds automatically."""
    boosts = dict(parsed.boosts)
    if not boosts:
        return idfs
    return {t: v * boosts.get(t, 1.0) for t, v in idfs.items()}


def _fuzzy_unions(parsed: ParsedQuery) -> tuple[frozenset[str], frozenset[str]]:
    """(positive, exclusion) member-term unions of the query's TERM-SET
    groups: fuzzy groups (round-6, FIXTURES.md §3.12 — the
    exactly-enumerated d=1 neighborhoods) and boolean OR-groups
    (round-6, FIXTURES.md §3.19 — explicit member sets). Both ride the
    ordinary bucket-pruned exact-term scan: neither needs a dictionary
    walk (unlike prefix groups)."""
    pos = frozenset(
        t for b in parsed.fuzzies for t in fuzzy_candidates(b)
    ) | frozenset(t for g in parsed.groups for t in g)
    neg = frozenset(
        t
        for b in parsed.exclude_fuzzies
        for t in fuzzy_candidates(b)
    ) | frozenset(t for g in parsed.exclude_groups for t in g)
    return pos, neg


def _phrase_terms(built, parsed: ParsedQuery) -> frozenset[str]:
    """The union of phrase-member terms (v6). Raises unless the index
    carries the positional stream — a phrase cannot be served without
    it, and falling back to a source scan would be the 10^12-doc
    anti-pattern."""
    terms = {t for ph in parsed.phrases for t in ph}
    if terms and not built.has_positions:
        raise ValueError(
            "phrase query requires an index built with positions=True "
            "(index layout v6 positional stream)"
        )
    return frozenset(terms)


class _PosNeed:
    """Membership test for the terms whose positions must decode: the
    phrase exact members plus any §3.28 phrase-prefix expansion (a
    term under one of the bodies). Duck-types the frozenset contract
    ``_assemble_shard`` relies on (``in`` + truthiness), so the
    decode path needs no branching."""

    __slots__ = ("exact", "prefixes")

    def __init__(self, exact, prefixes=()):  # noqa: D107
        self.exact = frozenset(exact)
        self.prefixes = tuple(p for p in prefixes if p)

    def __contains__(self, t: str) -> bool:
        return t in self.exact or (
            bool(self.prefixes) and t.startswith(self.prefixes)
        )

    def __bool__(self) -> bool:
        return bool(self.exact or self.prefixes)


def _phrase_pos_need(built, parsed: ParsedQuery) -> "_PosNeed":
    """The per-query position-need: exact phrase members (with the
    positional-index validation of ``_phrase_terms``) plus the §3.28
    phrase-prefix bodies."""
    return _PosNeed(
        _phrase_terms(built, parsed), parsed.phrase_prefixes
    )


def _attr_filter_terms(built, parsed: ParsedQuery) -> list[str]:
    """Synthetic index terms for the query's generic ``field:value``
    filters (``parsed.attrs``). Unlike ``lang:`` (which keeps a
    source fallback for indexes built without the lang attr),
    these REQUIRE an index carrying the field — raising beats a silent
    per-query corpus scan at 10^12 docs."""
    from xsearch_spark.constants import num_attr_encode

    out: list[str] = []
    for fld, val in parsed.attrs:
        if not built.has_attr(fld):
            raise ValueError(
                f"{fld}: filter requires an index built with attr_cols "
                f"including {fld!r} (index layout v5); this index carries "
                f"{built.attr_fields!r}"
            )
        if built.has_num_attr(fld):
            # numeric fields store encoded values (round-6 §3.13) —
            # equality must encode; a non-integer literal can never match
            try:
                val = num_attr_encode(int(val))
            except (TypeError, ValueError):
                raise ValueError(
                    f"{fld}: equality filter on a numeric attr needs an "
                    f"integer value; got {val!r}"
                ) from None
        out.append(attr_term(fld, val))
    return out


def _aux_doc_side(
    langs: list[str],
    source_df: DataFrame | None,
    tombstones: DataFrame | None,
    docs_per_shard: int,
) -> DataFrame | None:
    """The scorer's doc-side rows: the per-doc filters the index does not
    carry, as (term, doc_id, shard, df) rows that union into the pruned
    scan and take its shard exchange. A source ``lang`` row carries
    ``attr_term("lang", x)``, the allowlist term an attr-indexed build
    carries; a tombstone row carries a NULL term. ``df`` is 0 so that no
    bigint column of the union holds a null (pandas would widen it to
    float64). None when neither filter is present."""
    side: DataFrame | None = None
    if langs:
        if source_df is None:
            raise ValueError("lang: filter requires source_df")
        side = source_df.where(_sql_in("lang", langs)).select(
            F.concat(F.lit(attr_term("lang", "")), F.col("lang")).alias("term"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
    if tombstones is not None:
        t = tombstones.select(
            F.lit(None).cast("string").alias("term"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
        side = t if side is None else side.unionByName(t)
    if side is None:
        return None
    return side.select(
        "term",
        "doc_id",
        (F.col("doc_id") / F.lit(docs_per_shard)).cast("long").alias("shard"),
        F.lit(0).cast("long").alias("df"),
    )


@dataclass(frozen=True, eq=False)
class _QueryPlan:
    """One ParsedQuery compiled once (``_compile``) for the shard scorer
    (``_score_plans``): what its pruned scan reads, how each scanned
    term routes, and which allowlists, positions and cursor it needs."""

    parsed: ParsedQuery
    # exact scan terms: terms, excludes, fuzzy and group members (both
    # signs) and the required index-side attr terms
    scan_terms: tuple[str, ...]
    # prefixes, exclusion prefixes and wildcard literal prefixes (§3.24:
    # the scan is bounded by the literal before the first '*'; glob
    # membership narrows executor-side)
    scan_prefixes: tuple[str, ...]
    range_specs: tuple[tuple[str, str], ...]
    # synthetic attr terms whose postings AND into the allowlist; on an
    # index without the lang attr, lang's comes from the doc-side rows
    allow_terms: tuple[str, ...]
    pos_need: _PosNeed
    after: tuple[float, int] | None
    # what route() reads beside parsed.prefixes / parsed.exclude_prefixes
    exclude_terms: frozenset[str]
    exclude_rx: "tuple[re.Pattern[str], ...]"
    score_terms: frozenset[str]
    score_rx: "tuple[re.Pattern[str], ...]"

    def route(self, t: str) -> bool | None:
        """True when the plan scores term ``t``, False when ``t``'s docs
        are excluded, None when the plan has no use for ``t``. Exclusion
        (exact, prefix, fuzzy neighborhood, group or wildcard) wins over
        a positive match."""
        p = self.parsed
        if (
            t in self.exclude_terms
            or (p.exclude_prefixes and t.startswith(p.exclude_prefixes))
            or any(rx.fullmatch(t) for rx in self.exclude_rx)
        ):
            return False
        if (
            t in self.score_terms
            or (p.prefixes and t.startswith(p.prefixes))
            or any(rx.fullmatch(t) for rx in self.score_rx)
        ):
            return True
        return None

    @property
    def one_exact_term(self) -> bool:
        """The plan reads only the rows of its one query term: no
        exclusion, allowlist, prefix, fuzzy, group, wildcard or range
        rows ride its scan, so each (term, shard) run scores alone."""
        return (
            len(self.parsed.terms) == 1
            and self.scan_terms == self.parsed.terms
            and not (self.scan_prefixes or self.range_specs)
        )


def _compile(
    built, parsed: ParsedQuery, after: tuple[float, int] | None = None
) -> _QueryPlan:
    """Compile ``parsed`` against ``built``. Every index-dependent check
    (attr fields, positions, numeric ranges) raises here, before any
    Spark work."""
    fz_pos, fz_neg = _fuzzy_unions(parsed)
    lang = [] if parsed.lang is None else [attr_term("lang", parsed.lang)]
    attr_terms = _attr_filter_terms(built, parsed)
    index_allow = (lang if lang and built.has_attr("lang") else []) + attr_terms
    pos_need = _phrase_pos_need(built, parsed)
    range_specs = tuple(_attr_range_specs(built, parsed))
    exact = list(parsed.terms) + list(parsed.exclude)
    return _QueryPlan(
        parsed=parsed,
        # fuzzy neighborhoods and group members ride the bucket-pruned
        # exact scan (the point of the closed-form d=1 enumeration)
        scan_terms=tuple(
            exact + sorted((fz_pos | fz_neg) - set(exact)) + index_allow
        ),
        scan_prefixes=parsed.prefixes
        + parsed.exclude_prefixes
        + tuple(
            wildcard_scan_prefix(w)
            for w in parsed.wildcards + parsed.exclude_wildcards
        ),
        range_specs=range_specs,
        allow_terms=tuple(lang + attr_terms),
        pos_need=pos_need,
        after=after,
        exclude_terms=frozenset(parsed.exclude) | fz_neg,
        exclude_rx=tuple(
            re.compile(wildcard_regex(w)) for w in parsed.exclude_wildcards
        ),
        score_terms=frozenset(parsed.terms) | fz_pos,
        score_rx=tuple(re.compile(wildcard_regex(w)) for w in parsed.wildcards),
    )


BATCH_TOPK_SCHEMA = StructType(
    [
        StructField("query_id", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ]
)


@dataclass(frozen=True)
class _ValueSpec:
    """One attr field whose values the shard scorer emits beside every
    matched doc, as column ``name``: the field's ``\\x01field:`` rows ride
    the query's pruned scan. A numeric field reads the encoded-term
    interval [lo, hi] (search_sorted's cursor narrows it) and decodes to
    int64; a string field reads its whole prefix."""

    name: str
    prefix: str
    numeric: bool
    lo: str | None = None
    hi: str | None = None

    def mask(self, terms: pd.Series) -> np.ndarray:
        if self.numeric:
            return ((terms >= self.lo) & (terms <= self.hi)).to_numpy(bool)
        return terms.str.startswith(self.prefix).to_numpy(bool)

    def values(self, g: pd.DataFrame) -> pd.DataFrame:
        """(doc_id, <name>) of this field's rows in one shard: one row
        per posting, so an array field gives one row per distinct
        element of each doc."""
        sel = g[self.mask(g["term"])]
        ids = [codec.decode_doc_ids(b).astype(np.int64) for b in sel["doc_ids"]]
        vals = [t[len(self.prefix):] for t in sel["term"]]
        if self.numeric:
            vals = np.array([num_attr_decode(v) for v in vals], np.int64)
        else:
            vals = np.array(vals, dtype=object)
        return pd.DataFrame(
            {
                "doc_id": np.concatenate(ids) if ids else _EMPTY_I64,
                self.name: np.repeat(vals, [a.size for a in ids]),
            }
        )


def _attr_value_spec(built, name: str, field: str) -> _ValueSpec | None:
    """The value spec of an attr-indexed ``field`` (numeric attrs decode
    back to int64, the type the source fallback and the oracle emit);
    None when the index does not carry the field."""
    if built.has_num_attr(field):
        return _num_value_spec(built, name, field)
    if built.has_attr(field):
        return _ValueSpec(name, attr_term(field, ""), False)
    return None


def _num_value_spec(
    built,
    name: str,
    field: str,
    lo: str | None = None,
    hi: str | None = None,
) -> _ValueSpec:
    """The value spec of a numeric attr ``field``, its scan bounded to the
    encoded-term interval [lo, hi] (default: the whole field). Raises
    when the field is not a numeric attr of this index (scalar-int by
    construction, so each doc has at most one value)."""
    if not built.has_num_attr(field):
        raise ValueError(
            f"{field}: requires the field in the index's "
            f"num_attr_fields (integer attr_cols, FIXTURES.md §3.13); "
            f"this index carries {built.num_attr_fields!r}"
        )
    pref = attr_term(field, "")
    return _ValueSpec(
        name,
        pref,
        True,
        lo or pref + "0" * NUM_ATTR_WIDTH,
        hi or pref + "9" * NUM_ATTR_WIDTH,
    )


def _empty_out(values: tuple[_ValueSpec, ...]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "query_id": pd.Series(dtype=object),
            "doc_id": _EMPTY_I64,
            "score": np.empty(0, np.float64),
            **{
                v.name: _EMPTY_I64 if v.numeric else pd.Series(dtype=object)
                for v in values
            },
        }
    )


def _score_plans(
    built,
    plans: dict[str, _QueryPlan],
    k: int | None,
    source_df: DataFrame | None,
    tombstones: DataFrame | None,
    values: tuple[_ValueSpec, ...] = (),
) -> DataFrame:
    """The one shard scorer -> (query_id, doc_id, score): every plan's
    exact LOCAL top-k in each shard, or with ``k=None`` every matching
    doc (the full match set the result pages aggregate).

    One pruned scan reads the union of the plans' scans; each shard task
    decodes that union once and slices it per plan through the plan's
    routing predicate. The per-doc filters the index does not carry —
    tombstones, and lang: on an index built without the lang attr — are
    doc-side rows (``_aux_doc_side``) unioned into the scan: they take
    its shard exchange, and ``shard_iter`` splits them off and hands
    each shard's allowlists and tombstones to the scorer. Every call is
    ``rows [∪ doc-side rows] [.repartition("shard")] .mapInPandas``.

    ``values``: attr fields read by the same scan and emitted as one
    more column each beside every matched doc — one row per (doc,
    value), and a doc without one of the fields drops out (the
    inner-join NULL rule)."""
    # a shard holds at most docs_per_shard docs, so a local top-k that
    # deep is the shard's whole match set: _or_candidates prunes nothing
    # once its lists total <= 4k, and _local_topk keeps every candidate
    k_shard = built.docs_per_shard if k is None else k
    scan_terms = sorted({t for p in plans.values() for t in p.scan_terms})
    scan_prefixes = sorted(
        {b for p in plans.values() for b in p.scan_prefixes}
        | {v.prefix for v in values if not v.numeric}
    )
    range_specs = sorted({s for p in plans.values() for s in p.range_specs})
    spec_idx = {s: i for i, s in enumerate(range_specs)}
    allow_terms = frozenset(t for p in plans.values() for t in p.allow_terms)
    pos_need = _PosNeed(
        {t for p in plans.values() for t in p.pos_need.exact},
        sorted({b for p in plans.values() for b in p.pos_need.prefixes}),
    )
    rows = pruned_index_scan_prefix(
        built.index_df,
        scan_terms,
        scan_prefixes,
        built.num_buckets,
        term_ranges=sorted(
            set(range_specs) | {(v.lo, v.hi) for v in values if v.numeric}
        ),
    )
    rows = _project_scorer_cols(rows, bool(pos_need))
    n_docs, avgdl = built.n_docs, built.avgdl
    schema = StructType(
        BATCH_TOPK_SCHEMA.fields
        + [
            StructField(v.name, LongType() if v.numeric else StringType(), False)
            for v in values
        ]
    )

    def score_rows(g: pd.DataFrame, d: pd.DataFrame | None) -> pd.DataFrame:
        # g: one shard's index rows; d: its doc-side rows, if any
        # shards holding only allowlist/exclusion/value runs can't
        # contribute; skip before decoding (a hot lang list + rare term
        # query would otherwise decode huge allowlists in shards the term
        # never hits)
        terms = g["term"].unique()
        if not any(p.route(t) for p in plans.values() for t in terms):
            return _empty_out(values)
        vals = [v.values(g) for v in values]
        # numeric range rows (round-6 §3.13) are interval-membership
        # allowlist carriers — split them out before posting assembly,
        # and value rows with them unless they are allowlists too
        g, range_lists = _split_range_rows(g, range_specs)
        if values:
            value_only = np.logical_or.reduce(
                [v.mask(g["term"]) for v in values]
            ) & ~g["term"].isin(allow_terms).to_numpy(bool)
            g = g[~value_only]
        lists, blocks, _, dfs, attr_lists, pos_lists = _assemble_shard(
            g, set(), avgdl, allow_terms, pos_need
        )
        tombs = _EMPTY_I64
        if d is not None:
            tomb = d["term"].isna().to_numpy(bool)
            tombs = np.unique(d["doc_id"].to_numpy(np.int64)[tomb])
            attr_lists.update(
                (t, np.unique(a["doc_id"].to_numpy(np.int64)))
                for t, a in d[~tomb].groupby("term", sort=False)
            )
        out = []
        for qid, p in plans.items():
            routes = {t: p.route(t) for t in lists}
            q_lists = {t: lists[t] for t, r in routes.items() if r}
            ex = [lists[t][0] for t, r in routes.items() if r is False]
            if tombs.size:
                ex.append(tombs)
            allowed = None
            # AND-intersect every allowlist into `allowed`
            for lst in [attr_lists.get(t, _EMPTY_I64) for t in p.allow_terms] + [
                range_lists[spec_idx[s]] for s in p.range_specs
            ]:
                allowed = (
                    lst
                    if allowed is None
                    else np.intersect1d(allowed, lst, assume_unique=True)
                )
            idfs = _scaled_idfs(
                {t: idf_py(n_docs, dfs[t]) for t in q_lists}, p.parsed
            )
            ids, scores = score_shard(
                q_lists, {t: blocks[t] for t in q_lists}, idfs, avgdl,
                p.parsed, k_shard, ex, allowed, pos_lists, p.after,
            )
            cols = {"doc_id": ids, "score": scores}
            if vals:
                frame = pd.DataFrame(cols)
                for v in vals:
                    frame = frame.merge(v, on="doc_id")
                cols = {c: frame[c].to_numpy() for c in frame.columns}
            out.append((qid, cols))
        # one frame per shard, however many plans
        return pd.DataFrame(
            {
                "query_id": np.repeat(
                    np.array([q for q, _ in out], dtype=object),
                    [c["doc_id"].size for _, c in out],
                ),
                **{
                    n: np.concatenate([c[n] for _, c in out])
                    for n in schema.fieldNames()[1:]
                },
            }
        )

    doc_side = _aux_doc_side(
        [] if built.has_attr("lang")
        else sorted({p.parsed.lang for p in plans.values()} - {None}),
        source_df,
        tombstones,
        built.docs_per_shard,
    )
    # a bool, not the DataFrame: the UDF closure must not capture it
    has_doc_side = doc_side is not None
    if has_doc_side:
        # index rows get a non-null doc_id for the same reason doc-side
        # rows get df = 0: pandas keeps both columns int64
        rows = rows.withColumn("doc_id", F.lit(-1).cast("long")).unionByName(
            doc_side, allowMissingColumns=True
        )

    def shard_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # group rows by shard within the partition; the scan holds query
        # terms only, so concat-then-group is safe here
        frames = [f for f in batches if not f.empty]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        side: dict = {}
        if has_doc_side:
            # doc-side rows carry no postings; those of a shard without
            # index rows meet nothing and drop here, in one step
            mask = pdf["doc_ids"].isna().to_numpy(bool)
            doc, pdf = pdf[mask], pdf[~mask]
            doc = doc[doc["shard"].isin(pdf["shard"].unique())]
            side = {s: d for s, d in doc.groupby("shard", sort=False)}
        for s, g in pdf.groupby("shard", sort=False):
            yield score_rows(g, side.get(s))

    if has_doc_side or values or not (
        built.unique_term_shard and all(p.one_exact_term for p in plans.values())
    ):
        # co-locate every run of a shard in one task. Plans that each read
        # one term's runs need no exchange: every (term, shard) run scores
        # alone wherever the scan read it — one stage instead of two for
        # the commonest query shape. Gated on unique_term_shard (round-4
        # advisor): an index that can repeat (term, shard) keys — a raw
        # union of merged indexes — must shuffle so _assemble_shard's
        # repeated-key guard sees all runs of a key together. Value rows
        # and doc-side rows must meet their shard's query runs, so they
        # shuffle too.
        rows = rows.repartition("shard")
    return rows.mapInPandas(shard_iter, schema)


def search_wand(
    built,
    parsed: ParsedQuery,
    k: int = DEFAULT_TOP_K,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Engine-path search over the packed index -> (doc_id, score) exact
    top-k (raw scores; caller rounds for presentation). The query runs
    as a batch of one through the shard scorer (``_score_plans``); the
    per-shard top-k's merge in one TakeOrderedAndProject.

    A warm query holds ZERO driver-side stats state: bucket ids come
    from driver-side Python (functions.buckets), per-term df rides ON
    the index rows themselves (denormalized at merge time —
    segments.merge_to_index), so idf is computed executor-side from the
    pruned scan. The only driver scalars are (n_docs, avgdl) from the
    stats sidecar. On the shuffled path a warm query runs as TWO Spark
    jobs: the shard exchange's map stage, then the scorer and the top-k
    merge (the traced serve benchmark reads topk.jobs = 2). The
    no-exchange path runs as one; doc-side rows (tombstones, a source
    lang allowlist) ride the same exchange and add no job.

    ``lang:`` filtering (v5 index): the attribute is indexed as a
    synthetic posting list (``attr_term("lang", x)``, build-time), so the
    allowlist arrives THROUGH the same bucket-pruned index scan as the
    query terms and is applied in the scorer with zero extra reads — a
    lang: query costs O(matching docs in the probed shards), never a
    per-query scan+shuffle of the source table (the round-3 weak mark).
    Indexes built without the lang attr (``attr_cols=None``) fall back
    to the source: its lang-filtered doc_ids become doc-side rows under
    the same attr term, union into the scan and reach the scorer
    through its one shard exchange.

    Generic ``field:value`` filters (round-5, ``parsed.attrs``): every
    field indexed via ``attr_cols`` rides the same machinery — one
    synthetic posting list per filter, all through the one pruned scan,
    intersected in the scorer (AND semantics). These have no source-
    table fallback: filtering on an unindexed field raises instead of
    silently scanning the corpus per query.

    ``tombstones`` (S5, round-3): deleted doc_ids are doc-side rows of
    the scan (a tombstone is doc-range keyed exactly like the postings)
    and are applied inside the scorer as one more exclude list — the
    engine path serves correct results between compactions with no extra
    Spark job and no driver-side delete set.
    """
    local = _score_plans(
        built, {"_": _compile(built, parsed, after)}, k, source_df, tombstones
    )
    return (
        local.drop("query_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_wand_batch(
    built,
    queries: dict[str, ParsedQuery],
    k: int = DEFAULT_TOP_K,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Batched engine-path search: M queries through one pruned scan and
    one scorer stage -> (query_id, doc_id, score) exact top-k per query.

    Interactive p50 is dominated by per-job scheduling overhead (~0.3 s
    on this box), not scoring — a proxy serving a query stream should
    amortize it: the pruned scan covers the UNION of all queries' terms,
    each shard task scores every query against its local lists, and one
    per-query window takes the exact top-k. Throughput scales with
    shards x queries, not jobs.

    ``lang:`` queries read their allowlists from the index itself
    (synthetic attr posting lists ride the same pruned scan, sliced per
    query); on indexes built without the lang attr the source supplies
    the union of requested langs as doc-side rows of the same scan.
    ``tombstones`` (S5) are doc-side rows too and are excluded from
    every query's results — fresh deletes are visible to the whole
    batch with no extra job.
    """
    from pyspark.sql import Window

    plans = {qid: _compile(built, p) for qid, p in queries.items()}
    local = _score_plans(built, plans, k, source_df, tombstones)
    # Final per-query cut. The window's input is provably bounded: every
    # shard task already emitted its LOCAL exact top-k per query, so at
    # most |queries| x num_shards x k rows reach this exchange — e.g.
    # 1000 queries x 10^5 shards x 10 = 10^9 tiny rows at the extreme
    # 10^12-doc scale, hash-spread across queries (never one partition).
    # row_number over that is a per-query heap-sized sort, not a data
    # sort; no full posting data crosses this boundary.
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def search_index_relational(
    built,
    parsed: ParsedQuery,
    k: int = DEFAULT_TOP_K,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Q2 pruned scan + Q3 decode feeding the relational scorer — the
    second (declarative) path over the same packed index; must agree
    with search_wand bit-for-bit (tested).

    ``tombstones`` (S5): a (doc_id) DataFrame of deleted docs, applied as
    a broadcast anti-join BEFORE top-k — the query-time delete path that
    serves between compactions.

    ``lang:`` on a v5 index: the allowlist is the decoded synthetic attr
    posting read through its own pruned scan — semantically the same
    semi-join, but against index rows instead of a source-table scan."""
    from xsearch_spark.operators import search as rel

    return rel.top_k(_index_match_scored(built, parsed, source_df, tombstones), k)


def _index_match_scored(
    built,
    parsed: ParsedQuery,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """The FULL scored match set (doc_id, score over all matching docs,
    no top-k) on the index-relational path — `search_index_relational`
    caps it at k; `facet_counts` aggregates it whole."""
    from xsearch_spark.operators import search as rel
    from xsearch_spark.operators import segments as seg
    from xsearch_spark.operators.build import CollectionStats

    fz_pos, fz_neg = _fuzzy_unions(parsed)
    all_terms = list(parsed.terms) + list(parsed.exclude)
    all_terms = all_terms + sorted((fz_pos | fz_neg) - set(all_terms))
    rows = pruned_index_scan_prefix(
        built.index_df,
        all_terms,
        list(parsed.prefixes)
        + list(parsed.exclude_prefixes)
        + [
            wildcard_scan_prefix(w)
            for w in list(parsed.wildcards)
            + list(parsed.exclude_wildcards)
        ],
        built.num_buckets,
    )
    long_postings = seg.decode_postings(rows)
    stats = CollectionStats(built.n_docs, built.avgdl)
    scored = rel.score_postings(long_postings, None, None, stats, parsed)
    allowed_df = None
    if parsed.lang is not None and built.has_attr("lang"):
        attr_rows = pruned_index_scan(
            built.index_df, [attr_term("lang", parsed.lang)], built.num_buckets
        )
        allowed_df = seg.decode_postings(attr_rows, include_attrs=True)
    # generic field:value filters (round-5): one pruned-scan allowlist
    # per filter, positionally aligned with parsed.attrs
    attr_allowed_dfs = [
        seg.decode_postings(
            pruned_index_scan(built.index_df, [t], built.num_buckets),
            include_attrs=True,
        )
        for t in _attr_filter_terms(built, parsed)
    ]
    # phrases and ranges are served index-side below/here, so the
    # generic filter application must not see them
    import dataclasses

    scored = rel.apply_doc_filters(
        scored,
        long_postings,
        source_df,
        dataclasses.replace(
            parsed, phrases=(), phrase_slops=(), phrase_prefixes=(), ranges=()
        ),
        allowed_df=allowed_df,
        attr_allowed_dfs=attr_allowed_dfs or None,
    )
    # numeric range filters (round-6 §3.13), declaratively: one pushed
    # term-interval scan per range over the encoded attr namespace —
    # the allowlist semi-join twin of the scorer-side intersection
    for lo, hi in _attr_range_specs(built, parsed):
        rows_r = built.index_df.filter(
            (F.col("term") >= lo) & (F.col("term") <= hi)
        )
        adf = seg.decode_postings(rows_r, include_attrs=True)
        scored = scored.join(
            adf.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    # phrase adjacency (v6), declaratively: decode (term, doc_id, pos)
    # for the phrase members and express "consecutive positions" as a
    # k-way semi-join chain on (doc_id, pos + offset) — the relational
    # statement of what the scorer's composite-key intersection computes.
    # Proximity (round-6, slop > 0) chains "smallest next position"
    # instead: an inner join per step keyed by doc_id with a range
    # predicate, re-minimized per (doc, start) so cardinality never
    # exceeds the t_0 occurrence count — the relational statement of the
    # scorer's greedy searchsorted chain.
    if _phrase_terms(built, parsed):
        from xsearch_spark.plans.query import phrase_prefix, phrase_slop

        for pi, ph in enumerate(parsed.phrases):
            # §3.28 phrase-prefix: a non-empty body adds one final slot
            # matched by ANY vocabulary term under the prefix — the
            # expansion rows ride the same scan via a pushed startswith
            body = phrase_prefix(parsed, pi)
            rows_p = (
                pruned_index_scan_prefix(
                    built.index_df, sorted(set(ph)), [body], built.num_buckets
                )
                if body
                else pruned_index_scan(
                    built.index_df, sorted(set(ph)), built.num_buckets
                )
            )
            posr = seg.decode_positions(rows_p)
            slop = phrase_slop(parsed, pi)

            def slot_pred(j: int) -> "F.Column":
                # slot j < len(ph): exact member; slot len(ph): prefix
                if j < len(ph):
                    return F.col("term") == ph[j]
                return F.col("term").startswith(body)

            n_slots = len(ph) + (1 if body else 0)
            if slop == 0:
                anchors = posr.filter(slot_pred(0)).select("doc_id", "pos")
                for j in range(1, n_slots):
                    nxt = posr.filter(slot_pred(j)).select(
                        "doc_id", (F.col("pos") - j).alias("pos")
                    )
                    anchors = anchors.join(nxt, ["doc_id", "pos"], "left_semi")
            else:
                bound = n_slots - 1 + slop
                anchors = posr.filter(slot_pred(0)).select(
                    "doc_id", F.col("pos").alias("p0"), F.col("pos").alias("prev")
                )
                for j in range(1, n_slots):
                    nxt = posr.filter(slot_pred(j)).select(
                        "doc_id", F.col("pos").alias("pj")
                    )
                    anchors = (
                        anchors.join(nxt, "doc_id")
                        .filter(
                            (F.col("pj") > F.col("prev"))
                            & (F.col("pj") <= F.col("p0") + F.lit(bound))
                        )
                        .groupBy("doc_id", "p0")
                        .agg(F.min("pj").alias("prev"))
                    )
                anchors = anchors.select("doc_id", F.col("p0").alias("pos"))
            scored = scored.join(
                anchors.select("doc_id").distinct(), "doc_id", "left_semi"
            )
    if tombstones is not None:
        scored = scored.join(
            F.broadcast(tombstones.select("doc_id")), "doc_id", "left_anti"
        )
    return scored


def _served_matches(
    built,
    parsed: ParsedQuery,
    source_df: DataFrame | None,
    tombstones: DataFrame | None,
    *values: _ValueSpec,
) -> DataFrame:
    """The FULL match set served by the shard scorer -> (doc_id, score,
    one column per value spec): one pruned scan of the query's rows and
    the fields' attr rows, one shard exchange, one scorer task per
    shard. Every result page is this frame plus a relational tail, so
    Spark's partial aggregation runs in the scorer's own stage."""
    return _score_plans(
        built, {"_": _compile(built, parsed)}, None, source_df, tombstones,
        values,
    ).drop("query_id")


def _facet_matches(
    built,
    parsed: ParsedQuery,
    field: str,
    source_df: DataFrame | None,
    tombstones: DataFrame | None,
    *values: _ValueSpec,
) -> DataFrame:
    """``_served_matches`` with ``field``'s values as column ``value``:
    read by the scorer's scan on an attr-indexed field, else joined from
    ``source_df`` on doc_id (``_facet_values``, which raises absent
    both)."""
    spec = _attr_value_spec(built, "value", field)
    if spec is not None:
        return _served_matches(built, parsed, source_df, tombstones, spec, *values)
    vals = _facet_values(field, source_df)
    return _served_matches(built, parsed, source_df, tombstones, *values).join(
        vals, "doc_id"
    )


def facet_counts(
    built,
    parsed: ParsedQuery,
    field: str,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Q11 (round-6): facet counts — the number of MATCHING docs per
    value of ``field``, over the FULL match set (not the top-k) ->
    (value, n_docs). The classic search-result-page aggregation
    ("312 in lang:en, 41 in lang:zh, …").

    On a v5 index with ``field`` attr-indexed, the whole computation is
    INDEX-ONLY: the shard scorer reads the field's synthetic attr
    postings (one per distinct value per doc, so array-valued fields
    facet per element for free) in the query's own pruned scan and
    emits (doc_id, value) for every matched doc — the source table is
    never touched, exactly like attr filtering. The match set is the
    same scorer that serves top-k, in full-match mode, so every query
    feature (OR/NOT, attr filters, phrases, proximity, tombstones)
    composes.

    Scale shape: one shard exchange of posting-list-sized rows, then a
    partial-agg count in the scorer's stage and one tiny final reduce
    over at most |match| x values-per-doc rows. Unindexed fields fall
    back to a doc_id join against ``source_df`` (scalar or array
    column); absent both, raises — never a silent corpus scan.
    """
    return _facet_matches(built, parsed, field, source_df, tombstones).groupBy(
        "value"
    ).agg(F.count("*").cast("long").alias("n_docs"))


def _facet_values(field: str, source_df: DataFrame | None) -> DataFrame:
    """(doc_id, value) pairs of an UNINDEXED facet field from
    ``source_df`` (array fields yield one row per distinct element — the
    attr postings' per-distinct-element convention); raises without a
    source table. Attr-indexed fields never come here: the shard scorer
    reads their values (``_ValueSpec``)."""
    from pyspark.sql.types import ArrayType

    if source_df is not None:
        col = source_df.schema[field].dataType
        if isinstance(col, ArrayType):
            return source_df.select(
                "doc_id",
                F.explode(F.array_distinct(F.col(field))).alias("value"),
            )
        return source_df.filter(F.col(field).isNotNull()).select(
            "doc_id", F.col(field).alias("value")
        )
    raise ValueError(
        f"{field}: facet requires the field attr-indexed "
        f"(build_index(attr_cols=[...])) or the source table"
    )


def facet_stats(
    built,
    parsed: ParsedQuery,
    facet_field: str,
    value_field: str,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Grouped facet statistics (round-6, FIXTURES.md §3.26) — the
    Elasticsearch terms-aggregation-with-stats-sub-aggregation shape:
    for each value of ``facet_field`` over the FULL match set, the
    numeric statistics of ``value_field`` -> (value, n_docs, min_value,
    max_value, sum_value, avg_value), one row per facet value with at
    least one qualifying doc ("per lang: how many matches and their
    size range").

    FROZEN semantics: a doc qualifies for a bucket iff it matches the
    query AND carries the facet value AND carries the numeric field
    (the inner-join NULL rule — the same docs-WITH-the-field convention
    as stats/sort/facets; n_docs counts qualifying docs per bucket);
    array-valued facet fields bucket once per DISTINCT element, exactly
    like ``facet_counts``; avg rounds to 6, the rest exact int64.

    INDEX-ONLY like its two parents: the shard scorer serves the match
    set and reads BOTH fields' attr postings in the same scan (the
    numeric one order-preserving encoded; raises on a non-numeric
    ``value_field``), emitting one (doc, facet value, number) row per
    qualifying pair — then ONE partial-agg groupBy, never a source scan,
    never more rows than |match| x values-per-doc."""
    num = _num_value_spec(built, "_v", value_field)
    return (
        _facet_matches(built, parsed, facet_field, source_df, tombstones, num)
        .groupBy("value")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("_v").alias("min_value"),
            F.max("_v").alias("max_value"),
            F.sum("_v").alias("sum_value"),
            F.round(F.avg("_v"), 6).alias("avg_value"),
        )
    )


def search_collapse(
    built,
    parsed: ParsedQuery,
    field: str,
    k: int = DEFAULT_TOP_K,
    per_value: int = 1,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Field collapse (round-6, FIXTURES.md §3.29) — the Lucene/ES
    collapse-by-field result shape ("best doc per domain"): keep only
    the top ``per_value`` docs per value of ``field`` over the FULL
    match set, then return the global top-k survivors as
    (doc_id, value, score).

    FROZEN semantics: per-bucket selection and the global cut both use
    the ROUNDED paging order (round(score, 6) DESC, doc_id ASC — the
    §3.23 rule: the rounded key is what both sides can agree on at
    quantum ties), with value ASC as the final global tiebreak (a doc
    under several values of an array field competes once per distinct
    value, the facet convention); docs without the field drop (the
    NULL rule); scores come back rounded — they are the ordering key;
    ``per_value`` >= 1 (raises otherwise).

    Engine shape: the scorer-served match set with the field's values
    (index-only on an attr-indexed field); the per-bucket rank is ONE
    window over it (partitionBy value — one shuffle) and the global cut
    plans as TakeOrderedAndProject."""
    if per_value < 1:
        raise ValueError(f"per_value must be >= 1, got {per_value!r}")
    from pyspark.sql.window import Window

    joined = _facet_matches(
        built, parsed, field, source_df, tombstones
    ).select("doc_id", "value", F.round(F.col("score"), 6).alias("score"))
    w = Window.partitionBy("value").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    kept = (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_value)
        .drop("_rn")
    )
    return (
        kept.select("doc_id", "value", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("value"))
        .limit(k)
    )


def facet_cardinality(
    built,
    parsed: ParsedQuery,
    field: str,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Value cardinality over the FULL match set (round-6, FIXTURES.md
    §3.30) -> one (n_values) row: how many DISTINCT values of ``field``
    the matching docs carry (array fields count distinct elements —
    the facet convention; NULL-valued docs drop). The exact form of
    the ES cardinality aggregation: one distinct partial-agg over the
    scorer-served (doc, value) rows — index-only on an attr-indexed
    field, no top-k, no source fetch."""
    return _facet_matches(built, parsed, field, source_df, tombstones).agg(
        F.count_distinct(F.col("value")).cast("long").alias("n_values")
    )


def range_facets(
    built,
    parsed: ParsedQuery,
    field: str,
    edges: "list[int]",
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Explicit-edge range facets over the FULL match set (round-6,
    FIXTURES.md §3.30) -> (bucket, n_docs): for strictly increasing
    int ``edges`` [e_1..e_n], bucket i = the number of edges <= the
    doc's value (0 = below e_1, n = at or above e_n) — the ES range
    aggregation with the bucket id stated as pure int arithmetic
    (sum of (value >= e_i) casts, no floats, identical on both
    sides); empty buckets are absent (GROUP BY semantics). ``field``
    must be a numeric attr; edges must be strictly increasing ints
    (raises otherwise). Index-only like the histogram: the scorer
    emits each matched doc's decoded value, then a partial-agg
    count."""
    if not edges or any(
        int(b) <= int(a) for a, b in zip(edges, edges[1:])
    ):
        raise ValueError(
            f"edges must be a non-empty strictly increasing int list, "
            f"got {edges!r}"
        )
    num = _num_value_spec(built, "value", field)
    bucket = sum(
        (F.col("value") >= F.lit(int(e))).cast("long") for e in edges
    ).alias("bucket")
    return (
        _served_matches(built, parsed, source_df, tombstones, num)
        .select(bucket)
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def search_rescored(
    built,
    parsed: ParsedQuery,
    field: str,
    weight: float,
    k: int = DEFAULT_TOP_K,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Field-value rescoring (round-6, FIXTURES.md §3.31) — the ES
    function-score / field_value_factor (sum boost mode) shape: rank
    the FULL match set by ``combined = round(bm25 + weight * value,
    6)`` where value is the doc's numeric attr — "boost by recency /
    popularity" -> (doc_id, score) top-k, doc_id ASC tiebreak.

    FROZEN semantics: the combination is on the RAW bm25 score with
    one rounding AFTER the sum (the §3.25 fusion rule); the returned
    score IS the rounded combined value (the ordering key, the §3.23
    rule — ``weight`` may be negative, and both engines' round()
    agree away-from-zero on negatives); docs without the field DROP
    (the NULL rule — a missing popularity never silently counts as
    0); match semantics are untouched (rescoring never adds or
    removes docs beyond the NULL rule).

    Engine shape: the scorer-served match set carrying each doc's
    decoded attr value (index-only) and ONE TakeOrderedAndProject —
    the same cost as a sort-by-field page."""
    num = _num_value_spec(built, "value", field)
    return (
        _served_matches(built, parsed, source_df, tombstones, num)
        .select(
            "doc_id",
            F.round(
                F.col("score") + F.lit(float(weight)) * F.col("value"), 6
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def scan_docs(
    built,
    parsed: ParsedQuery,
    k: int = DEFAULT_TOP_K,
    after: int | None = None,
    offset: int = 0,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Match-set scroll / export (round-6, FIXTURES.md §3.27): the k
    docs of the FULL match set in doc_id ASC order strictly AFTER the
    ``after`` doc_id cursor -> (doc_id, score) — the bulk-export
    primitive (Elasticsearch scroll / search_after on _doc): a client
    walks the entire match set in stable, query-independent order by
    feeding back the last doc_id of each page.

    FROZEN semantics: the order is (doc_id ASC) — total by
    construction, so pages never overlap or skip under a static index;
    cursor-walk == offset paging over that order (page N+1 == rows
    [N*k, (N+1)*k) — the equivalence IS the oracle, the same frozen
    rule as §3.14/§3.23 cursors); ``after`` and a non-zero ``offset``
    are mutually exclusive; the BM25 score rides along for
    presentation and does not affect the order.

    Engine shape: the scorer-served match set (every query feature
    composes) with the cursor filter applied BEFORE the k-deep
    per-partition heaps, planned as TakeOrderedAndProject — deep
    scroll pages cost the same as page 1, never an offset+k heap (the
    offset form exists only as the oracle's statement of the order)."""
    if after is not None and offset:
        raise ValueError(
            "offset and after are mutually exclusive (FIXTURES.md §3.27): "
            "a cursor page is already positioned"
        )
    scored = _served_matches(built, parsed, source_df, tombstones)
    if after is not None:
        scored = scored.filter(F.col("doc_id") > F.lit(int(after)))
    out = scored.orderBy(F.asc("doc_id"))
    if offset:
        out = out.offset(offset)
    return out.limit(k)


def match_count(
    built,
    parsed: ParsedQuery,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Total-hits count (round-6, Q11b): the number of docs in the FULL
    match set -> one (n_docs) row — the result-page "About N results"
    number. Deliberately on the declarative twin ``_index_match_scored``
    (shared with ``search_index_relational``), not the scorer that
    serves the other result pages: a page checked against this count is
    checked against a second, independent match evaluation. Every query
    feature (OR/NOT, attrs, phrases, proximity, prefixes, tombstones)
    composes; the count is a partial-agg reduce over the match set — no
    top-k, no source fetch."""
    return (
        _index_match_scored(built, parsed, source_df, tombstones)
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def search_sorted(
    built,
    parsed: ParsedQuery,
    sort_field: str,
    ascending: bool = False,
    k: int = DEFAULT_TOP_K,
    offset: int = 0,
    after: tuple[int, int] | None = None,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Sort-by-field + pagination (round-6, FIXTURES.md §3.14): the FULL
    match set ordered by a NUMERIC attr value instead of the BM25 score
    -> (doc_id, sort_value, score), rows [offset, offset+k) of the
    total order (sort_value ASC|DESC, doc_id ASC) — the "sort by date /
    size, page 2" result shape.

    INDEX-ONLY: the shard scorer serves the match set (every query
    feature composes — OR/NOT/attrs/ranges/phrases/prefixes/fuzzy/
    tombstones) and reads the sort keys from the field's
    order-preserving-encoded attr postings in the same scan — the
    source table is never touched. Docs lacking the field have no attr
    posting and drop out (frozen: NULL never sorts). Requires the field
    in ``num_attr_fields`` — numeric attrs are scalar by construction
    (build-time validation), so each doc has one key and the total
    order is deterministic.

    ``after=(value, doc_id)`` (§3.14, cursor pagination): return the k
    rows strictly AFTER that cursor in the total order instead of an
    offset page — walking pages via the previous page's last row is
    exactly equivalent to offset paging (that equivalence IS the
    oracle) but scale-correct for deep paging: the cursor bounds the
    attr-postings scan itself (encoded term <= enc(value) descending /
    >= ascending — order-preservation at work), so parquet row-group
    min/max pruning skips the already-walked value range and the top-k
    heap stays k-deep where an offset page needs offset+k. Mutually
    exclusive with a non-zero offset.

    Scale shape: one shard exchange of posting-list-sized rows, and the
    global cut plans as TakeOrderedAndProject with limit offset+k —
    per-partition heaps, never a full sort.
    """
    if after is not None and offset:
        raise ValueError(
            "offset and after are mutually exclusive (FIXTURES.md §3.14): "
            "a cursor page is already positioned"
        )
    lo_term = hi_term = None
    if after is not None:
        from xsearch_spark.constants import num_attr_encode

        bound = attr_term(sort_field, num_attr_encode(after[0]))
        if ascending:
            lo_term = bound
        else:
            hi_term = bound
    num = _num_value_spec(built, "sort_value", sort_field, lo_term, hi_term)
    matched = _served_matches(built, parsed, source_df, tombstones, num)
    if after is not None:
        av, ad = after
        sv = F.col("sort_value")
        strict = sv > F.lit(av) if ascending else sv < F.lit(av)
        matched = matched.filter(
            strict | ((sv == F.lit(av)) & (F.col("doc_id") > F.lit(ad)))
        )
    order = [
        F.asc("sort_value") if ascending else F.desc("sort_value"),
        F.asc("doc_id"),
    ]
    out = matched.select("doc_id", "sort_value", "score").orderBy(*order)
    if offset:
        out = out.offset(offset)
    return out.limit(k)


def search_after_topk(
    built,
    parsed: ParsedQuery,
    k: int = DEFAULT_TOP_K,
    after: tuple[float, int] | None = None,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Relevance-order cursor paging (round-6, FIXTURES.md §3.23): the
    k docs strictly after ``after`` = (rounded_score, doc_id) in the
    frozen paging order (round(score, 6) DESC, doc_id ASC);
    ``after=None`` is page 1 of that order. Page-walk == offset paging
    over the same order (the oracle states LIMIT k OFFSET N). Scores
    come back ALREADY rounded — they are the paging key.

    Engine shape: identical to a plain top-k (one pruned scan, one
    exchange) — the cursor filter runs inside the scorer before every
    local heap, and the WAND theta seed is restricted to docs beyond
    the cursor (subset-seed exactness, with the raw-vs-rounded pruning
    bound relaxed by one rounding quantum). Deep pages therefore cost
    the same as page 1, never an offset+k heap."""
    cur = (
        (float(after[0]), int(after[1]))
        if after is not None
        else (float("inf"), -1)  # page 1: keep all, order by round6
    )
    return search_wand(built, parsed, k, source_df, tombstones, after=cur)


def field_stats(
    built,
    parsed: ParsedQuery,
    field: str,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Numeric-field statistics over the FULL match set (round-6,
    FIXTURES.md §3.17) -> one (n_docs, min_value, max_value, sum_value,
    avg_value) row — the result-page "price range / size stats"
    aggregation. INDEX-ONLY like facets: the shard scorer serves the
    match set and decodes each matched doc's value from the numeric
    attr postings read in the same scan; the aggregate is a partial-agg
    reduce in the scorer's stage — no top-k, no source fetch. Docs
    lacking the field carry no attr posting and drop out (n_docs counts
    docs WITH the field, consistent with facet/sort NULL semantics)."""
    num = _num_value_spec(built, "value", field)
    return _served_matches(built, parsed, source_df, tombstones, num).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum("value").alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


def facet_histogram(
    built,
    parsed: ParsedQuery,
    field: str,
    interval: int,
    source_df: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Fixed-interval histogram over the FULL match set (round-6,
    FIXTURES.md §3.17) -> (bucket, n_docs) with bucket = the largest
    multiple of ``interval`` <= value (floor semantics for negatives
    too, via exact int64 arithmetic — ``v - pmod(v, interval)`` — so
    both sides agree at every boundary; no float division anywhere).
    The numeric-facet twin of ``facet_counts``: same index-only shape
    (the scorer emits each matched doc's decoded value, then a
    partial-agg count), every query feature composes."""
    if interval <= 0:
        raise ValueError(f"interval must be a positive int, got {interval!r}")
    num = _num_value_spec(built, "value", field)
    bucket = (
        F.col("value") - F.pmod(F.col("value"), F.lit(interval))
    ).alias("bucket")
    return (
        _served_matches(built, parsed, source_df, tombstones, num)
        .select(bucket)
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def more_like_this(
    built,
    doc_id: int,
    source_df: DataFrame,
    m: int = 5,
    k: int = DEFAULT_TOP_K,
    text_col: str = "text",
    variant: str = "base",
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """More-like-this (round-6, FIXTURES.md §3.16): find documents
    similar to a seed doc -> (doc_id, score) top-k, seed excluded.

    FROZEN semantics: seed terms = the seed doc's top-``m`` DISTINCT
    analyzed terms ranked by their BM25 weight in the seed itself,
    ``w(t, seed)`` with the collection idf (ties: term ASC — a total
    order); the result is the ordinary OR query over those terms
    (§3.2 scoring) with the seed dropped from the result set.

    Scale shape (the Lucene MLT topology): driver-side work is O(dl) —
    ONE pushed doc_id lookup fetches the seed text (at 10^12 docs the
    source is id-partitioned, so this is a point read, never a scan),
    the seed is re-analyzed in-process (the same A3 chain as query
    analysis), and per-term df for its <= dl distinct terms comes back
    through the ordinary bucket-pruned dictionary scan. The actual
    search is the unmodified OR engine path — WAND pruning included —
    asking for k+1 and dropping the seed (exact: the top-k excluding
    one known doc is the top-(k+1) minus that doc, truncated).
    """
    import collections

    from xsearch_spark.functions.tokenize import tokenize_query

    rows0 = (
        source_df.filter(F.col("doc_id") == int(doc_id))
        .select(text_col)
        .collect()
    )
    if not rows0:
        raise ValueError(f"more_like_this: doc_id {doc_id} not in source")
    toks = tokenize_query(rows0[0][0], variant)
    tf = collections.Counter(toks)
    dl = len(toks)
    if not tf:
        return source_df.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    terms = sorted(tf)
    scan = pruned_index_scan(built.index_df, terms, built.num_buckets)
    dfs = {
        r["term"]: int(r["df"])
        for r in scan.select("term", "df").distinct().collect()
    }
    n_docs, avgdl = built.n_docs, built.avgdl
    denom_base = K1 * (1.0 - B + B * dl / avgdl)
    w = {
        t: idf_py(n_docs, dfs[t])
        * tf[t]
        * (K1 + 1.0)
        / (tf[t] + denom_base)
        for t in dfs
    }
    seed_terms = tuple(sorted(w, key=lambda t: (-w[t], t))[:m])
    if not seed_terms:
        return source_df.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    parsed = ParsedQuery(terms=seed_terms, connective="OR")
    topk1 = search_wand(
        built, parsed, k=k + 1, source_df=source_df, tombstones=tombstones
    )
    return (
        topk1.filter(F.col("doc_id") != int(doc_id))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def explain_score(built, parsed: ParsedQuery, doc_id: int) -> DataFrame:
    """Score explanation (round-6, FIXTURES.md §3.22): the per-term
    BM25 breakdown of ``doc_id`` under ``parsed`` — one row per
    POSITIVE scored term the doc contains -> (term, tf, dl, df, idf,
    weight), term ASC, with boosts folded into weight. For a doc in
    the query's match set, sum(weight) == its search score exactly
    (test-pinned). Lucene's explain contract: match semantics
    (connective, filters, exclusions) are NOT re-evaluated — explain
    states what the present terms contribute.

    Index-only and O(query posting lists): the members ride the same
    bucket-pruned scan a search issues (prefix groups via the pushed
    startswith range), df comes off the v4 rows, and the doc filter
    applies after decode — never a source scan, dictionary walk, or
    positional read."""
    from xsearch_spark.functions.bm25 import bm25_weight_col, idf_col
    from xsearch_spark.operators import segments as seg
    from xsearch_spark.operators.search import positive_term_pred

    fz_pos, _ = _fuzzy_unions(parsed)
    all_terms = list(parsed.terms) + sorted(fz_pos - set(parsed.terms))
    rows = pruned_index_scan_prefix(
        built.index_df,
        all_terms,
        list(parsed.prefixes)
        + [
            wildcard_scan_prefix(w)
            for w in parsed.wildcards
        ],
        built.num_buckets,
    )
    long = seg.decode_postings(rows).filter(F.col("doc_id") == int(doc_id))
    long = long.filter(positive_term_pred(parsed)(F.col("term")))
    idf = idf_col(built.n_docs, F.col("df").cast("double"))
    w = bm25_weight_col(idf, F.col("tf"), F.col("dl"), built.avgdl)
    for t, b in dict(parsed.boosts).items():
        # §3.15: the same last-wins fold as the relational scorer
        w = F.when(F.col("term") == t, w * F.lit(b)).otherwise(w)
    from xsearch_spark.constants import SCORE_ROUND_DECIMALS

    return long.select(
        "term",
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
        F.col("df").cast("long").alias("df"),
        F.round(idf, SCORE_ROUND_DECIMALS).alias("idf"),
        F.round(w, SCORE_ROUND_DECIMALS).alias("weight"),
    ).orderBy("term")


def spell_suggest(built, body: str, n: int = 5) -> DataFrame:
    """Did-you-mean (round-6, FIXTURES.md §3.18): the top-``n``
    vocabulary terms within Levenshtein distance <= 1 of ``body`` by
    global document frequency -> (term, df), ordered (df DESC,
    term ASC) — the "did you mean …?" result-page surface (the exact
    d=0 term is a candidate too, so a correctly-spelled input ranks
    itself). The fuzzy-group mirror of ``suggest_terms``: candidates
    are the SAME exact closed-form d<=1 neighborhood fuzzy queries
    expand (``constants.fuzzy_candidates``), enumerated driver-side,
    so the dictionary probe is the ordinary bucket-pruned exact-term
    IN scan — zero Spark jobs to plan, no dictionary walk, no
    startswith sweep at any vocabulary size; df rides every index
    row. The DuckDB oracle states membership declaratively
    (``levenshtein(term, body) <= 1`` over the corpus vocabulary),
    independently verifying the enumeration is complete."""
    from xsearch_spark.constants import MAX_FUZZY_LEN, fuzzy_candidates
    from xsearch_spark.plans.query import _PREFIX_BODY_RE

    if not _PREFIX_BODY_RE.fullmatch(body or "") or len(body) > MAX_FUZZY_LEN:
        raise ValueError(
            f"spell_suggest input must be one term shape [a-z0-9_]+ "
            f"(<= {MAX_FUZZY_LEN} chars); got {body!r}"
        )
    rows = pruned_index_scan(
        built.index_df, list(fuzzy_candidates(body)), built.num_buckets
    )
    return (
        rows.select("term", F.col("df").cast("long").alias("df"))
        .distinct()
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


def suggest_terms(built, prefix: str, n: int = 10) -> DataFrame:
    """Dictionary completion (round-6, FIXTURES.md §3.11): the top-``n``
    vocabulary terms under ``prefix`` by global document frequency ->
    (term, df), ordered (df DESC, term ASC) — the search-box
    autocomplete surface.

    Index-only and collect-free: every index row carries its term's
    GLOBAL df (stamped at merge time), so one ``startswith``-pushed scan
    plus a distinct over the tiny matched dictionary slice answers the
    query — the full vocabulary is never collected (the billion-term
    anti-pattern audit_plans forbids), and the scan prunes to the few
    term-sorted row groups per bucket whose [min, max] range straddles
    the prefix. The (df DESC, term ASC) order is total, so the top-n cut
    is deterministic on both sides of the oracle."""
    from xsearch_spark.plans.query import _PREFIX_BODY_RE

    if not _PREFIX_BODY_RE.fullmatch(prefix or ""):
        raise ValueError(
            f"suggest prefix must be one term shape [a-z0-9_]+; got {prefix!r}"
        )
    rows = built.index_df.filter(F.col("term").startswith(prefix))
    return (
        rows.select("term", F.col("df").cast("long").alias("df"))
        .distinct()
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )
