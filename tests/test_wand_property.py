"""Property test (SURVEY.md §5.4): block-max WAND pruning must be
invisible — score_shard == naive full evaluation on random mini-corpora,
including boundary ties at the pruning threshold. Pure NumPy, no Spark."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from xsearch_spark.constants import B, BLOCK_SIZE, K1
from xsearch_spark.operators.wand import _compile, score_shard
from xsearch_spark.plans.query import ParsedQuery


def _mk_lists(rng: np.random.Generator, n_terms: int, n_docs: int):
    lists, blocks = {}, {}
    avgdl = 0.0
    dls_by_doc = rng.integers(1, 50, size=n_docs)
    avgdl = float(dls_by_doc.mean())
    for t in range(n_terms):
        df = int(rng.integers(1, n_docs + 1))
        ids = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 6, size=df).astype(np.int64)
        dls = dls_by_doc[ids].astype(np.int64)
        term = f"t{t}"
        lists[term] = (ids, tfs, dls)
        starts = np.arange(0, df, BLOCK_SIZE)
        fac = tfs * (K1 + 1.0) / (tfs + K1 * (1 - B + B * dls / avgdl))
        blocks[term] = (
            ids[np.minimum(starts + BLOCK_SIZE - 1, df - 1)],
            np.maximum.reduceat(fac, starts),
        )
    return lists, blocks, avgdl


def _naive(lists, idfs, avgdl, parsed, k, exclude=None, allowed=None):
    scores: dict[int, float] = {}
    hits: dict[int, int] = {}
    for t in parsed.terms:
        if t not in lists:
            if parsed.connective == "AND":
                return []
            continue
        ids, tfs, dls = lists[t]
        for d, tf, dl in zip(ids.tolist(), tfs.tolist(), dls.tolist()):
            w = idfs[t] * tf * (K1 + 1.0) / (tf + K1 * (1 - B + B * dl / avgdl))
            scores[d] = scores.get(d, 0.0) + w
            hits[d] = hits.get(d, 0) + 1
    cand = scores
    if parsed.connective == "AND":
        cand = {d: s for d, s in scores.items() if hits[d] == len(parsed.terms)}
    if exclude is not None:
        bad = set()
        for ex in exclude:
            bad |= set(ex.tolist())
        cand = {d: s for d, s in cand.items() if d not in bad}
    if allowed is not None:
        ok = set(allowed.tolist())
        cand = {d: s for d, s in cand.items() if d in ok}
    ranked = sorted(cand, key=lambda d: (-cand[d], d))[:k]
    return [(d, cand[d]) for d in ranked]


@settings(max_examples=150, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    n_terms=st.integers(1, 4),
    n_docs=st.integers(1, 600),
    k=st.integers(1, 15),
    conn=st.sampled_from(["AND", "OR"]),
)
def test_wand_equals_naive(seed, n_terms, n_docs, k, conn):
    rng = np.random.default_rng(seed)
    lists, blocks, avgdl = _mk_lists(rng, n_terms, n_docs)
    n_corpus = n_docs
    idfs = {
        t: math.log(1 + (n_corpus - len(v[0]) + 0.5) / (len(v[0]) + 0.5))
        for t, v in lists.items()
    }
    parsed = ParsedQuery(terms=tuple(lists.keys()), connective=conn)
    got_ids, got_scores = score_shard(lists, blocks, idfs, avgdl, parsed, k)
    want = _naive(lists, idfs, avgdl, parsed, k)
    assert [int(i) for i in got_ids] == [d for d, _ in want]
    for g, (_, w) in zip(got_scores.tolist(), want):
        assert abs(g - w) < 1e-9


@settings(max_examples=150, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    n_terms=st.integers(1, 4),
    n_docs=st.integers(1, 600),
    k=st.integers(1, 15),
    conn=st.sampled_from(["AND", "OR"]),
    use_exclude=st.booleans(),
    use_allowed=st.booleans(),
    use_tombs=st.booleans(),
)
def test_wand_equals_naive_with_filters(
    seed, n_terms, n_docs, k, conn, use_exclude, use_allowed, use_tombs
):
    """OR + exclude/lang/tombstone filters: theta must be computed over
    the POST-filter seed set, or pruning can drop true top-k docs
    (round-1 advisor finding — the unfiltered sweep above never triggers
    it). Tombstones enter the engine path as one more exclude list
    (wand.search_wand round-3), so the sweep covers exclude-term +
    tombstone + allowlist simultaneously."""
    rng = np.random.default_rng(seed + 31337)
    lists, blocks, avgdl = _mk_lists(rng, n_terms, n_docs)
    idfs = {
        t: math.log(1 + (n_docs - len(v[0]) + 0.5) / (len(v[0]) + 0.5))
        for t, v in lists.items()
    }
    exclude = None
    if use_exclude:
        sz = int(rng.integers(0, max(1, n_docs // 2)))
        exclude = [np.sort(rng.choice(n_docs, size=sz, replace=False)).astype(np.int64)]
    if use_tombs:
        sz = int(rng.integers(0, max(1, n_docs // 3)))
        tombs = np.sort(rng.choice(n_docs, size=sz, replace=False)).astype(np.int64)
        exclude = (exclude or []) + [tombs]
    allowed = None
    if use_allowed:
        sz = int(rng.integers(0, n_docs + 1))
        allowed = np.sort(rng.choice(n_docs, size=sz, replace=False)).astype(np.int64)
    parsed = ParsedQuery(terms=tuple(lists.keys()), connective=conn)
    got_ids, got_scores = score_shard(
        lists, blocks, idfs, avgdl, parsed, k, exclude, allowed
    )
    want = _naive(lists, idfs, avgdl, parsed, k, exclude, allowed)
    assert [int(i) for i in got_ids] == [d for d, _ in want]
    for g, (_, w) in zip(got_scores.tolist(), want):
        assert abs(g - w) < 1e-9


@settings(max_examples=200, deadline=None)
@given(
    seed=st.integers(0, 100_000),
    n_docs=st.integers(1, 120),
    phrase_len=st.integers(2, 4),
    extra_term=st.booleans(),
    two_phrases=st.booleans(),
)
def test_phrase_filter_equals_stream_scan(
    seed, n_docs, phrase_len, extra_term, two_phrases
):
    """v6 phrase adjacency: the scorer's shifted composite-key
    intersection must equal a direct token-stream scan, on random
    mini-corpora over a TINY vocab (heavy collisions, repeated-term
    phrases like "a a b" included by construction) — the frozen
    semantics: scoring identical to the unquoted AND query restricted
    to adjacency survivors."""
    rng = np.random.default_rng(seed)
    vocab = ["a", "b", "c", "d"]
    streams = {
        d: [vocab[i] for i in rng.integers(0, len(vocab), rng.integers(0, 24))]
        for d in range(n_docs)
    }
    # plant the phrase into a few docs so matches exist often
    phrase = tuple(vocab[i] for i in rng.integers(0, len(vocab), phrase_len))
    for d in rng.choice(n_docs, size=min(3, n_docs), replace=False):
        s = streams[int(d)]
        cut = int(rng.integers(0, len(s) + 1))
        streams[int(d)] = s[:cut] + list(phrase) + s[cut:]
    phrases = [phrase]
    if two_phrases:
        phrases.append(tuple(vocab[i] for i in rng.integers(0, len(vocab), 2)))
    # derive lists + positional streams exactly as the index would
    lists, pos_lists = {}, {}
    for t in vocab:
        ids, tfs, dls, flats = [], [], [], []
        for d in sorted(streams):
            pos = [i + 1 for i, w in enumerate(streams[d]) if w == t]
            if pos:
                ids.append(d)
                tfs.append(len(pos))
                dls.append(len(streams[d]))
                flats.extend(pos)
        if ids:
            ids_a = np.array(ids, dtype=np.int64)
            tfs_a = np.array(tfs, dtype=np.int64)
            lists[t] = (ids_a, tfs_a, np.array(dls, dtype=np.int64))
            pos_lists[t] = (
                ids_a,
                np.array(flats, dtype=np.int64),
                np.concatenate([[0], np.cumsum(tfs_a)]).astype(np.int64),
            )
    terms = sorted({w for ph in phrases for w in ph})
    if extra_term:
        terms = sorted(set(terms) | {vocab[int(rng.integers(0, len(vocab)))]})
    avgdl = max(
        1.0, float(np.mean([len(s) for s in streams.values()])) if streams else 1.0
    )
    idfs = {
        t: math.log(1 + (n_docs - len(v[0]) + 0.5) / (len(v[0]) + 0.5))
        for t, v in lists.items()
    }
    parsed = ParsedQuery(
        terms=tuple(terms), connective="AND", phrases=tuple(phrases)
    )
    k = 10
    if any(t not in lists for t in terms):
        got_ids, _ = score_shard(
            lists, {t: (v[0][-1:], np.array([9.9])) for t, v in lists.items()},
            idfs, avgdl, parsed, k, pos_lists=pos_lists,
        )
        assert got_ids.size == 0
        return
    blocks = {}
    for t, (ids, tfs, dls) in lists.items():
        starts = np.arange(0, ids.size, BLOCK_SIZE)
        fac = tfs * (K1 + 1.0) / (tfs + K1 * (1 - B + B * dls / avgdl))
        blocks[t] = (
            ids[np.minimum(starts + BLOCK_SIZE - 1, ids.size - 1)],
            np.maximum.reduceat(fac, starts),
        )
    got_ids, got_scores = score_shard(
        lists, blocks, idfs, avgdl, parsed, k, pos_lists=pos_lists
    )

    # naive: AND over terms, adjacency via direct stream scan
    def matches(d: int) -> bool:
        s = streams[d]
        for ph in phrases:
            m = len(ph)
            if not any(
                tuple(s[i : i + m]) == ph for i in range(len(s) - m + 1)
            ):
                return False
        return True

    want = []
    for d, s in streams.items():
        if not s or not all(
            d in lists[t][0] for t in terms
        ) or not matches(d):
            continue
        score = 0.0
        for t in terms:
            tf = s.count(t)
            score += idfs[t] * tf * (K1 + 1.0) / (
                tf + K1 * (1 - B + B * len(s) / avgdl)
            )
        want.append((d, score))
    want.sort(key=lambda x: (-x[1], x[0]))
    want = want[:k]
    assert [int(i) for i in got_ids] == [d for d, _ in want]
    for g, (_, w) in zip(got_scores.tolist(), want):
        assert abs(g - w) < 1e-9


@settings(max_examples=50, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_wand_tie_boundary(seed):
    """Force many equal scores (same tf/dl everywhere) so the k-th score
    ties across blocks — pruning with strict < must keep all tied docs
    reachable and the doc_id tie-break exact."""
    rng = np.random.default_rng(seed)
    n_docs = 400
    ids = np.arange(n_docs, dtype=np.int64)
    tfs = np.ones(n_docs, dtype=np.int64)
    dls = np.full(n_docs, 10, dtype=np.int64)
    lists = {"t0": (ids, tfs, dls)}
    starts = np.arange(0, n_docs, BLOCK_SIZE)
    fac = tfs * (K1 + 1.0) / (tfs + K1 * (1 - B + B * dls / 10.0))
    blocks = {"t0": (ids[np.minimum(starts + BLOCK_SIZE - 1, n_docs - 1)],
                     np.maximum.reduceat(fac, starts))}
    idfs = {"t0": 1.0}
    parsed = ParsedQuery(terms=("t0",), connective="OR")
    k = int(rng.integers(1, 20))
    got_ids, _ = score_shard(lists, blocks, idfs, 10.0, parsed, k)
    assert [int(i) for i in got_ids] == list(range(k))  # pure doc_id order


def _streams_to_lists(streams: dict, vocab: list[str]):
    """Derive (lists, pos_lists) from raw token streams exactly as the
    v6 index would (1-based positions, doc-sorted postings)."""
    lists, pos_lists = {}, {}
    for t in vocab:
        ids, tfs, dls, flats = [], [], [], []
        for d in sorted(streams):
            pos = [i + 1 for i, w in enumerate(streams[d]) if w == t]
            if pos:
                ids.append(d)
                tfs.append(len(pos))
                dls.append(len(streams[d]))
                flats.extend(pos)
        if ids:
            ids_a = np.array(ids, dtype=np.int64)
            tfs_a = np.array(tfs, dtype=np.int64)
            lists[t] = (ids_a, tfs_a, np.array(dls, dtype=np.int64))
            pos_lists[t] = (
                ids_a,
                np.array(flats, dtype=np.int64),
                np.concatenate([[0], np.cumsum(tfs_a)]).astype(np.int64),
            )
    return lists, pos_lists


@settings(max_examples=150, deadline=None)
@given(
    seed=st.integers(0, 100_000),
    n_docs=st.integers(1, 100),
    phrase_len=st.integers(2, 4),
    slop=st.integers(0, 4),
    extra_term=st.booleans(),
)
def test_proximity_filter_equals_stream_scan(
    seed, n_docs, phrase_len, slop, extra_term
):
    """Round-6 proximity (FIXTURES.md §3.8): the scorer's greedy
    searchsorted chain must equal a brute-force ordered-window scan —
    doc matches iff positions i_1 < … < i_m exist with t_j at i_j and
    i_m - i_1 <= (m-1) + slop — on random mini-corpora over a TINY
    vocab (collisions + repeated-term windows by construction). Slop 0
    routes through the adjacency intersection, pinning the two
    features' shared boundary; scoring stays the plain unquoted-AND
    score of the survivors."""
    rng = np.random.default_rng(seed)
    vocab = ["a", "b", "c", "d"]
    streams = {
        d: [vocab[i] for i in rng.integers(0, len(vocab), rng.integers(0, 24))]
        for d in range(n_docs)
    }
    phrase = tuple(vocab[i] for i in rng.integers(0, len(vocab), phrase_len))
    # plant the phrase with small random gaps so slop is discriminative
    for d in rng.choice(n_docs, size=min(3, n_docs), replace=False):
        s = streams[int(d)]
        cut = int(rng.integers(0, len(s) + 1))
        planted: list[str] = []
        for j, w in enumerate(phrase):
            if j:
                planted.extend(
                    vocab[i] for i in rng.integers(0, len(vocab), rng.integers(0, 3))
                )
            planted.append(w)
        streams[int(d)] = s[:cut] + planted + s[cut:]
    lists, pos_lists = _streams_to_lists(streams, vocab)
    terms = sorted(set(phrase))
    if extra_term:
        terms = sorted(set(terms) | {vocab[int(rng.integers(0, len(vocab)))]})
    avgdl = max(
        1.0, float(np.mean([len(s) for s in streams.values()])) if streams else 1.0
    )
    idfs = {
        t: math.log(1 + (n_docs - len(v[0]) + 0.5) / (len(v[0]) + 0.5))
        for t, v in lists.items()
    }
    parsed = ParsedQuery(
        terms=tuple(terms),
        connective="AND",
        phrases=(phrase,),
        phrase_slops=(slop,),
    )
    k = 10
    if any(t not in lists for t in terms):
        got_ids, _ = score_shard(
            lists, {t: (v[0][-1:], np.array([9.9])) for t, v in lists.items()},
            idfs, avgdl, parsed, k, pos_lists=pos_lists,
        )
        assert got_ids.size == 0
        return
    blocks = {}
    for t, (ids, tfs, dls) in lists.items():
        starts = np.arange(0, ids.size, BLOCK_SIZE)
        fac = tfs * (K1 + 1.0) / (tfs + K1 * (1 - B + B * dls / avgdl))
        blocks[t] = (
            ids[np.minimum(starts + BLOCK_SIZE - 1, ids.size - 1)],
            np.maximum.reduceat(fac, starts),
        )
    got_ids, got_scores = score_shard(
        lists, blocks, idfs, avgdl, parsed, k, pos_lists=pos_lists
    )

    bound = len(phrase) - 1 + slop

    def matches(s: list[str]) -> bool:
        pos = [[i + 1 for i, w in enumerate(s) if w == t] for t in phrase]

        def rec(j: int, prev: int, start: int) -> bool:
            if j == len(phrase):
                return True
            return any(
                p > prev and p <= start + bound and rec(j + 1, p, start)
                for p in pos[j]
            )

        return any(rec(1, p0, p0) for p0 in pos[0])

    want = []
    for d, s in streams.items():
        if not s or not all(d in lists[t][0] for t in terms) or not matches(s):
            continue
        score = 0.0
        for t in terms:
            tf = s.count(t)
            score += idfs[t] * tf * (K1 + 1.0) / (
                tf + K1 * (1 - B + B * len(s) / avgdl)
            )
        want.append((d, score))
    want.sort(key=lambda x: (-x[1], x[0]))
    want = want[:k]
    assert [int(i) for i in got_ids] == [d for d, _ in want]
    for g, (_, w) in zip(got_scores.tolist(), want):
        assert abs(g - w) < 1e-9


@settings(max_examples=100, deadline=None)
@given(seed=st.integers(0, 100_000), n_docs=st.integers(1, 80))
def test_proximity_chain_slop0_equals_adjacency(seed, n_docs):
    """The greedy window chain at slop 0 must return exactly the
    adjacency intersection's survivors — strictly increasing integers
    spanning m-1 are consecutive (the degeneracy that ties the
    proximity oracle to the phrase oracle)."""
    from xsearch_spark.operators.wand import _phrase_filter, _proximity_chain

    rng = np.random.default_rng(seed)
    vocab = ["a", "b", "c"]
    streams = {
        d: [vocab[i] for i in rng.integers(0, len(vocab), rng.integers(0, 20))]
        for d in range(n_docs)
    }
    phrase = tuple(vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(2, 5))))
    _, pos_lists = _streams_to_lists(streams, vocab)
    # cand = docs containing every phrase term (the AND precondition)
    cand = None
    for t in set(phrase):
        ids = pos_lists.get(t, (np.empty(0, np.int64),))[0]
        cand = ids if cand is None else np.intersect1d(cand, ids)
    adj = _phrase_filter(cand.copy(), (phrase,), pos_lists)
    prox = _proximity_chain(cand.copy(), phrase, 0, pos_lists)
    assert adj.tolist() == prox.tolist()


@settings(max_examples=150, deadline=None)
@given(
    seed=st.integers(0, 100_000),
    n_docs=st.integers(1, 400),
    k=st.integers(1, 15),
    conn=st.sampled_from(["AND", "OR"]),
    n_plain=st.integers(0, 2),
    n_prefix=st.integers(1, 2),
    use_ex_prefix=st.booleans(),
)
def test_prefix_groups_equal_naive(
    seed, n_docs, k, conn, n_plain, n_prefix, use_ex_prefix
):
    """Round-6 prefix groups (FIXTURES.md §3.10): score_shard with
    ``parsed.prefixes`` must equal a naive group evaluation — a prefix
    behaves as ONE required group whose posting set is the union of its
    expansions, every matched expansion scores like a bare term
    (distinct-term sum), and an exclusion prefix drops docs containing
    ANY matching term. The vocab is structured (aa/ab/ba/bb/ca) so
    single-char prefixes hit 1-2 member terms and overlap plain terms
    by construction."""
    rng = np.random.default_rng(seed + 777)
    vocab = ["aa", "ab", "ba", "bb", "ca"]
    lists, blocks, avgdl = _mk_lists(rng, len(vocab), n_docs)
    lists = {vocab[i]: lists[f"t{i}"] for i in range(len(vocab))}
    blocks = {vocab[i]: blocks[f"t{i}"] for i in range(len(vocab))}
    idfs = {
        t: math.log(1 + (n_docs - len(v[0]) + 0.5) / (len(v[0]) + 0.5))
        for t, v in lists.items()
    }
    plain = tuple(rng.choice(vocab, size=n_plain, replace=False))
    prefixes = tuple(rng.choice(["a", "b", "c"], size=n_prefix, replace=False))
    ex_prefixes = ("c",) if use_ex_prefix and "c" not in prefixes else ()
    parsed = ParsedQuery(
        terms=plain,
        connective=conn,
        prefixes=prefixes,
        exclude_prefixes=ex_prefixes,
    )
    # route through the compiled plan's predicate, as the shard scorer
    # does: terms under an exclusion prefix feed exclude lists, never
    # scores (the query needs nothing of an index to compile)
    plan = _compile(None, parsed)
    q_lists = {t: v for t, v in lists.items() if plan.route(t)}
    q_blocks = {t: blocks[t] for t in q_lists}
    exclude = [v[0] for t, v in lists.items() if plan.route(t) is False] or None
    ex_terms = [t for t in vocab if ex_prefixes and t.startswith(ex_prefixes)]
    got_ids, got_scores = score_shard(
        q_lists, q_blocks, idfs, avgdl, parsed, k, exclude
    )

    # naive group evaluation over the same corpus
    doc_terms: dict[int, set[str]] = {}
    for t, (ids, _, _) in lists.items():
        for d in ids.tolist():
            doc_terms.setdefault(d, set()).add(t)
    want = []
    for d, ts in doc_terms.items():
        if any(t in ts for t in ex_terms):
            continue
        groups = [t in ts for t in plain] + [
            any(m.startswith(p) and m not in ex_terms for m in ts)
            for p in prefixes
        ]
        matched = all(groups) if conn == "AND" else any(groups)
        if not matched:
            continue
        scored = {t for t in ts if t in plain or t.startswith(prefixes)}
        scored -= set(ex_terms)
        score = 0.0
        for t in scored:
            ids, tfs, dls = lists[t]
            i = int(np.searchsorted(ids, d))
            tf, dl = float(tfs[i]), float(dls[i])
            score += idfs[t] * tf * (K1 + 1.0) / (
                tf + K1 * (1 - B + B * dl / avgdl)
            )
        if score > 0.0 or scored:
            want.append((d, score))
    want.sort(key=lambda x: (-x[1], x[0]))
    want = want[:k]
    assert [int(i) for i in got_ids] == [d for d, _ in want]
    for g, (_, w) in zip(got_scores.tolist(), want):
        assert abs(g - w) < 1e-9


def test_phrase_length_cap_enforced():
    """Round-6 ADVICE: the adjacency composite key offsets positions by
    MAX_PHRASE_LEN — longer phrases must fail loudly at parse AND in
    the scorer, never corrupt neighboring doc key slots."""
    import numpy as np
    import pytest

    from xsearch_spark.operators.wand import MAX_PHRASE_LEN, _phrase_filter, score_shard
    from xsearch_spark.plans.query import ParsedQuery, parse

    long_phrase = " ".join(f"w{i}" for i in range(MAX_PHRASE_LEN + 1))
    with pytest.raises(ValueError, match="exceeds the supported maximum"):
        parse(f'"{long_phrase}"')
    # exactly at the cap parses fine
    ok = parse('"' + " ".join(f"w{i}" for i in range(MAX_PHRASE_LEN)) + '"')
    assert len(ok.phrases[0]) == MAX_PHRASE_LEN
    with pytest.raises(ValueError, match="exceeds the supported maximum"):
        _phrase_filter(
            np.array([1], dtype=np.int64),
            (tuple(f"w{i}" for i in range(MAX_PHRASE_LEN + 1)),),
            {},
        )
    # a hand-built OR query carrying phrases must raise, not under-fill
    p = ParsedQuery(terms=("a", "b"), connective="OR", phrases=(("a", "b"),))
    with pytest.raises(ValueError, match="AND semantics"):
        score_shard({}, {}, {}, 10.0, p, 10)


@settings(max_examples=150, deadline=None)
@given(
    seed=st.integers(0, 100_000),
    n_docs=st.integers(1, 100),
    head_len=st.integers(1, 3),
    slop=st.integers(0, 3),
)
def test_phrase_prefix_filter_equals_stream_scan(seed, n_docs, head_len, slop):
    """Round-6 §3.28 phrase-prefix: the scorer's union final slot
    (adjacency intersection at slop 0, greedy window chain at slop > 0)
    must equal a brute ordered-window scan whose last slot matches ANY
    token under the prefix — on random mini-corpora over a tiny
    multi-char vocab (several terms share each prefix, collisions by
    construction). Scoring must equal the unquoted `w1 … b*` query:
    head terms plus every present expansion, distinct-once."""
    rng = np.random.default_rng(seed)
    vocab = ["aa", "ab", "ba", "bb", "ca"]
    streams = {
        d: [vocab[i] for i in rng.integers(0, len(vocab), rng.integers(0, 24))]
        for d in range(n_docs)
    }
    head = tuple(vocab[i] for i in rng.integers(0, len(vocab), head_len))
    body = ["a", "b", "c", "aa"][int(rng.integers(0, 4))]
    expansions = [t for t in vocab if t.startswith(body)]
    # plant head + a random expansion with small gaps so slop matters
    for d in rng.choice(n_docs, size=min(3, n_docs), replace=False):
        s = streams[int(d)]
        cut = int(rng.integers(0, len(s) + 1))
        planted: list = []
        for j, w in enumerate(head):
            if j:
                planted.extend(
                    vocab[i]
                    for i in rng.integers(0, len(vocab), rng.integers(0, 2))
                )
            planted.append(w)
        planted.extend(
            vocab[i] for i in rng.integers(0, len(vocab), rng.integers(0, 2))
        )
        planted.append(expansions[int(rng.integers(0, len(expansions)))])
        streams[int(d)] = s[:cut] + planted + s[cut:]
    lists, pos_lists = _streams_to_lists(streams, vocab)
    terms = sorted(set(head))
    avgdl = max(
        1.0, float(np.mean([len(s) for s in streams.values()])) if streams else 1.0
    )
    idfs = {
        t: math.log(1 + (n_docs - len(v[0]) + 0.5) / (len(v[0]) + 0.5))
        for t, v in lists.items()
    }
    parsed = ParsedQuery(
        terms=tuple(terms),
        connective="AND",
        phrases=(head,),
        phrase_slops=(slop,),
        phrase_prefixes=(body,),
        prefixes=(body,),  # parse() registers the body (frozen §3.28)
    )
    # k > n_docs: no top-k cut, so the comparison is the exact MATCH SET
    # plus per-doc scores — symmetric tf multisets in this corpus can
    # make two raw scores differ only in float summation order (1 ulp),
    # which would flip an order-sensitive boundary; the filter semantics
    # under test are order-free (the cut machinery is pinned elsewhere)
    k = n_docs + 10
    blocks = {}
    for t, (ids, tfs, dls) in lists.items():
        starts = np.arange(0, ids.size, BLOCK_SIZE)
        fac = tfs * (K1 + 1.0) / (tfs + K1 * (1 - B + B * dls / avgdl))
        blocks[t] = (
            ids[np.minimum(starts + BLOCK_SIZE - 1, ids.size - 1)],
            np.maximum.reduceat(fac, starts),
        )
    got_ids, got_scores = score_shard(
        lists, blocks, idfs, avgdl, parsed, k, pos_lists=pos_lists
    )

    bound = len(head) + slop  # m_total - 1 + slop

    def matches(s: list) -> bool:
        pos_head = [[i + 1 for i, w in enumerate(s) if w == t] for t in head]
        pos_exp = [i + 1 for i, w in enumerate(s) if w.startswith(body)]

        def rec(j: int, prev: int, start: int) -> bool:
            if j == len(head):
                return any(prev < p <= start + bound for p in pos_exp)
            return any(
                prev < p <= start + bound and rec(j + 1, p, start)
                for p in pos_head[j]
            )

        return any(rec(1, p0, p0) for p0 in pos_head[0])

    want = []
    for d, s in streams.items():
        if (
            not s
            or not all(
                t in lists and d in lists[t][0] for t in terms
            )
            or not any(w.startswith(body) for w in s)
            or not matches(s)
        ):
            continue
        score = 0.0
        for t in sorted(set(terms) | set(expansions)):
            tf = s.count(t)
            if tf:
                score += idfs[t] * tf * (K1 + 1.0) / (
                    tf + K1 * (1 - B + B * len(s) / avgdl)
                )
        want.append((d, score))
    got = {int(i): s for i, s in zip(got_ids.tolist(), got_scores.tolist())}
    assert set(got) == {d for d, _ in want}
    for d, w in want:
        assert abs(got[d] - w) < 1e-9
