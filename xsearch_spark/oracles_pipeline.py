"""DuckDB oracle SQL for the training-data pipeline operators (dedup,
similarity, text analysis). Generated from the same constants/word lists
the Spark operators use — parity by construction, like oracles.py.

Engine-vs-oracle float discipline: every float output is round(x, 6) on
both sides; hash/count outputs are exact.
"""

from __future__ import annotations

from xsearch_spark.constants import SRP_BIT_FLOOR, TOKEN_SPLIT_REGEX
from xsearch_spark.functions.textops import (
    BPE_ISH_REGEX,
    FINGERPRINT_MAX_POSITIONS,
    FINGERPRINT_SHINGLE,
    LANG_MARKERS,
    STOPWORDS,
)

RGX = "'" + TOKEN_SPLIT_REGEX.replace("'", "''") + "'"

_TOK = (
    "tok AS (SELECT doc_id, u AS term FROM (SELECT doc_id, "
    f"unnest(string_split_regex(lower(text), {RGX})) AS u FROM documents) "
    "WHERE u <> '')"
)
_TOKS_ARR = (
    f"toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), {RGX}), "
    "x -> x <> '') AS t FROM documents)"
)


def dedup_exact_sql() -> str:
    return """
SELECT md5(text) AS content_hash, count(*) AS dup_count, min(doc_id) AS keeper_doc_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""


def _shingle_cte(n: int) -> str:
    idx = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return f"""{_TOKS_ARR},
sh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(t) >= {n}
         THEN list_transform(generate_series(1, len(t) - {n - 1}), i -> {idx})
         ELSE [] END) AS shingle
  FROM toks
)"""


def minhash_sql(num_hashes: int = 16, shingle_n: int = 3) -> str:
    return f"""
WITH {_shingle_cte(shingle_n)},
seeds AS (SELECT unnest(generate_series(0, {num_hashes - 1})) AS seed)
SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || shingle)) AS minhash
FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
"""


def _lsh_pairs_cte(num_hashes: int, bands: int, shingle_n: int = 3) -> str:
    rpb = num_hashes // bands
    return f"""
{_shingle_cte(shingle_n)},
seeds AS (SELECT unnest(generate_series(0, {num_hashes - 1})) AS seed),
sigs AS (
  SELECT doc_id, seed, seed // {rpb} AS band,
         min(md5(seed::VARCHAR || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
),
bandkeys AS (
  SELECT doc_id, band, md5(string_agg(minhash, '|' ORDER BY seed)) AS bucket
  FROM sigs GROUP BY doc_id, band
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandkeys a JOIN bandkeys b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""


def lsh_pairs_sql(num_hashes: int = 16, bands: int = 4) -> str:
    return f"WITH {_lsh_pairs_cte(num_hashes, bands)} SELECT doc_a, doc_b FROM pairs"


def ngram_jaccard_sql(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    # the LSH CTE's shingle set (same n) is reused for the exact Jaccard
    return f"""
WITH {_lsh_pairs_cte(num_hashes, bands, n)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       round(coalesce(i.n_inter, 0)::DOUBLE
             / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


def simhash_sql(bits: int = 64) -> str:
    return f"""
WITH {_TOK},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
bitids AS (SELECT unnest(generate_series(0, {bits - 1})) AS bit),
perbit AS (
  SELECT doc_id, bit,
         sum(tf * (2 * (((instr('0123456789abcdef',
                                substr(md5(term), bit // 4 + 1, 1)) - 1)
                         >> (3 - bit % 4)) % 2) - 1)) AS vote
  FROM tf CROSS JOIN bitids GROUP BY doc_id, bit
)
SELECT doc_id,
       (sum(CASE WHEN bit > 0 AND vote > 0
                 THEN (1::BIGINT << (63 - bit)) ELSE 0 END)
        + CASE WHEN max(CASE WHEN bit = 0 AND vote > 0 THEN 1 ELSE 0 END) = 1
               THEN (-9223372036854775807 - 1) ELSE 0 END)::BIGINT AS simhash
FROM perbit GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# similarity (embeddings table)

_EMB_EXPLODE = (
    "e AS (SELECT vec_id, unnest(embedding) AS val, "
    "unnest(generate_series(0, len(embedding) - 1)) AS dim FROM embeddings)"
)


def cosine_topk_sql(query_vec_id: int = 0, k: int = 10) -> str:
    return f"""
WITH q AS (SELECT unnest(embedding) AS qval,
                  unnest(generate_series(0, len(embedding) - 1)) AS dim
           FROM embeddings WHERE vec_id = {query_vec_id}),
{_EMB_EXPLODE},
dots AS (
  SELECT e.vec_id,
         sum(e.val::DOUBLE * q.qval::DOUBLE) AS dot,
         sum(e.val::DOUBLE * e.val::DOUBLE) AS nrm2
  FROM e JOIN q USING (dim) GROUP BY e.vec_id
),
qn AS (SELECT sum(qval::DOUBLE * qval::DOUBLE) AS qnrm2 FROM q)
SELECT vec_id, round(dot / (sqrt(nrm2) * sqrt(qnrm2)), 6) AS cos_sim
FROM dots CROSS JOIN qn
ORDER BY dot / (sqrt(nrm2) * sqrt(qnrm2)) DESC, vec_id ASC LIMIT {k}
"""


def lsh_buckets_sql(num_planes: int = 8) -> str:
    return f"""
WITH {_EMB_EXPLODE},
planes AS (SELECT unnest(generate_series(0, {num_planes - 1})) AS plane),
signed AS (
  SELECT vec_id, plane,
         val::DOUBLE * (CASE WHEN instr('0123456789abcdef',
                    substr(md5(plane::VARCHAR || ':' || dim::VARCHAR), 1, 1)) - 1 >= 8
                THEN 1.0 ELSE -1.0 END) AS sv
  FROM e CROSS JOIN planes
),
dots AS (SELECT vec_id, plane, sum(sv) AS dot FROM signed GROUP BY vec_id, plane)
SELECT vec_id,
       sum(CASE WHEN dot >= {SRP_BIT_FLOOR!r} THEN (1::BIGINT << plane) ELSE 0 END)::BIGINT AS bucket
FROM dots GROUP BY vec_id
"""


def emb_cosine_pairs_sql(threshold: float, num_planes: int = 8) -> str:
    """Embedding near-dup pairs: exact cosine >= threshold, restricted to
    LSH-bucket-sharing candidates (never all-pairs)."""
    return f"""
WITH b AS ({lsh_buckets_sql(num_planes)}),
pairs AS (
  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
),
{_EMB_EXPLODE},
norms AS (SELECT vec_id, sum(val::DOUBLE * val::DOUBLE) AS n2 FROM e GROUP BY vec_id),
dots AS (
  SELECT p.vec_a, p.vec_b, sum(ea.val::DOUBLE * eb.val::DOUBLE) AS dot
  FROM pairs p
  JOIN e ea ON ea.vec_id = p.vec_a
  JOIN e eb ON eb.vec_id = p.vec_b AND eb.dim = ea.dim
  GROUP BY p.vec_a, p.vec_b
)
SELECT vec_a, vec_b, round(cos_sim, 6) AS cos_sim
FROM (SELECT d.vec_a, d.vec_b, d.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.vec_a
      JOIN norms nb ON nb.vec_id = d.vec_b)
WHERE round(cos_sim, 6) >= {threshold}
"""


def ivf_topk_sql(
    query_vec_id: int = 0,
    k: int = 10,
    num_planes: int = 8,
    probe_hamming: int = 1,
    extra_vec_pred: str | None = None,
) -> str:
    """IVF-style probe: exact cosine top-k restricted to vectors whose
    LSH bucket is within ``probe_hamming`` bit flips of the query's own
    bucket — the probe set is fully SQL-derivable (xor + bit_count).

    ``extra_vec_pred``: additional candidate filter (the ANN tombstone
    oracle — e.g. ``"e.vec_id % 7 <> 3"``). Bucketing stays over the
    FULL corpus: bucket assignment is delete-independent, exactly like
    the persisted index built before the deletes."""
    pred = f" AND ({extra_vec_pred})" if extra_vec_pred else ""
    return f"""
WITH b AS ({lsh_buckets_sql(num_planes)}),
qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = {query_vec_id}),
probe AS (
  SELECT b.vec_id FROM b CROSS JOIN qb
  WHERE bit_count(xor(b.bucket, qb.qbucket)) <= {probe_hamming}
),
q AS (SELECT unnest(embedding) AS qval,
             unnest(generate_series(0, len(embedding) - 1)) AS dim
      FROM embeddings WHERE vec_id = {query_vec_id}),
{_EMB_EXPLODE},
dots AS (
  SELECT e.vec_id,
         sum(e.val::DOUBLE * q.qval::DOUBLE) AS dot,
         sum(e.val::DOUBLE * e.val::DOUBLE) AS nrm2
  FROM e JOIN q USING (dim)
  WHERE e.vec_id IN (SELECT vec_id FROM probe){pred}
  GROUP BY e.vec_id
),
qn AS (SELECT sum(qval::DOUBLE * qval::DOUBLE) AS qnrm2 FROM q)
SELECT vec_id, round(dot / (sqrt(nrm2) * sqrt(qnrm2)), 6) AS cos_sim
FROM dots CROSS JOIN qn
ORDER BY dot / (sqrt(nrm2) * sqrt(qnrm2)) DESC, vec_id ASC LIMIT {k}
"""


def content_sha256_sql() -> str:
    """S3: the per-row content-fingerprint invariant (BASELINE.json:15) —
    the engine emits sha256 over its doc-store write+read roundtrip; the
    oracle hashes the raw source rows. Equality IS the invariant."""
    return "SELECT doc_id, sha256(text) AS content_sha256 FROM documents"


# ---------------------------------------------------------------------------
# text analysis (documents table)


def _markers_in(markers: list[str]) -> str:
    return ", ".join("'" + m + "'" for m in markers)


def lang_id_sql() -> str:
    score_exprs = {
        lang: (
            f"len(list_filter(t, x -> x IN ({_markers_in(m)})))::DOUBLE"
            f" / greatest(len(t), 1)::DOUBLE"
        )
        for lang, m in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    ) + " END"
    selects = ", ".join(f"{e} AS s_{lang}" for lang, e in score_exprs.items())
    return f"""
WITH {_TOKS_ARR},
scored AS (SELECT doc_id, {selects} FROM toks),
withbest AS (SELECT *, {best} AS best FROM scored)
SELECT doc_id, {case} AS pred_lang, round(best, 6) AS lang_score FROM withbest
"""


def quality_features_sql() -> str:
    stop = _markers_in(STOPWORDS)
    return f"""
WITH {_TOKS_ARR},
base AS (
  SELECT d.doc_id, d.text, t.t,
         length(d.text) AS n_chars, len(t.t) AS n_tok
  FROM documents d JOIN toks t USING (doc_id)
)
SELECT doc_id,
  n_chars::BIGINT AS n_chars,
  n_tok::BIGINT AS n_tokens,
  round(list_aggregate(list_transform(t, x -> length(x)::DOUBLE), 'sum')
        / greatest(n_tok, 1)::DOUBLE, 6) AS mean_tok_len,
  round(len(list_filter(t, x -> x IN ({stop})))::DOUBLE
        / greatest(n_tok, 1)::DOUBLE, 6) AS stopword_ratio,
  round((n_chars - length(regexp_replace(text, '[^A-Za-z0-9_\\s]', '', 'g')))::DOUBLE
        / greatest(n_chars, 1)::DOUBLE, 6) AS punct_ratio,
  round((n_chars - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
        / greatest(n_chars, 1)::DOUBLE, 6) AS digit_ratio,
  round((n_chars - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
        / greatest(n_chars, 1)::DOUBLE, 6) AS upper_ratio
FROM base
"""


def quality_score_sql() -> str:
    return f"""
WITH feat AS ({quality_features_sql()})
SELECT doc_id,
  round((1.0 - least(punct_ratio * 2.0, 0.5) - least(digit_ratio, 0.3))
        * least(n_tokens::DOUBLE / 64.0, 1.0), 6) AS quality
FROM feat
"""


def token_counts_sql() -> str:
    # DuckDB string literals are standard-SQL (no backslash escapes):
    # the regex goes in verbatim, only quotes need doubling
    bpe = BPE_ISH_REGEX.replace("'", "''")
    return f"""
SELECT doc_id,
  len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS ws_tokens,
  len(regexp_extract_all(text, '{bpe}'))::BIGINT AS bpe_ish_tokens
FROM documents
"""


def doc_fingerprint_sql() -> str:
    w = FINGERPRINT_SHINGLE
    cap = FINGERPRINT_MAX_POSITIONS
    # stride mirrors the Spark side exactly: ceil(positions / cap)
    return f"""
SELECT doc_id,
  list_aggregate(
    list_transform(
      generate_series(1, greatest(length(text) - {w - 1}, 1),
                      (greatest(length(text) - {w - 1}, 1) + {cap - 1}) // {cap}),
      i -> md5(substr(text, i, {w}))),
    'min') AS fingerprint
FROM documents
"""


def chunk_docs_sql(max_tokens: int = 64, overlap: int = 8) -> str:
    """Token-bounded sliding chunks, mirroring textops.chunk_docs: same
    frozen base tokenizer, stride = max_tokens - overlap, 1-based
    inclusive slice bounds (DuckDB list_slice == Spark slice(start,
    length) when end = start + length - 1). char_start/char_end/
    chunk_span mirror the Spark prefix-sum position arithmetic: the
    separator array comes from splitting lower(text) by TOKEN_RUN_REGEX
    (complement of the tokenizer class), start(tok_i) =
    Σlen(sep_0..i-1) + Σlen(tok_1..i-1) + 1; list_sum of an empty slice
    is NULL in DuckDB, hence the coalesce."""
    from xsearch_spark.constants import TOKEN_RUN_REGEX, TOKEN_SPLIT_REGEX

    stride = max_tokens - overlap
    rgx = TOKEN_SPLIT_REGEX.replace("'", "''")
    run = TOKEN_RUN_REGEX.replace("'", "''")
    fi = f"(chunk_id * {stride} + 1)"
    li = f"least({fi} + {max_tokens - 1}, len(t))"
    lensum = "coalesce(list_sum(list_transform(list_slice({arr}, 1, {hi}), x -> length(x))), 0)"
    start = (
        lensum.format(arr="s", hi=fi)
        + " + "
        + lensum.format(arr="t", hi=f"({fi} - 1)")
        + " + 1"
    )
    end = lensum.format(arr="s", hi=li) + " + " + lensum.format(arr="t", hi=li)
    return f"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '{rgx}'), x -> x <> '') AS t,
         string_split_regex(lower(text), '{run}') AS s
  FROM documents
),
chunks AS (
  SELECT doc_id, text, t, s,
         unnest(generate_series(0, (len(t) - 1) // {stride})) AS chunk_id
  FROM toks WHERE len(t) > 0
),
spans AS (
  SELECT doc_id, text, t, chunk_id,
         ({start})::BIGINT AS char_start, ({end})::BIGINT AS char_end
  FROM chunks
)
SELECT doc_id,
       chunk_id::BIGINT AS chunk_id,
       len(list_slice(t, chunk_id * {stride} + 1,
                      chunk_id * {stride} + {max_tokens}))::BIGINT AS n_tokens,
       array_to_string(list_slice(t, chunk_id * {stride} + 1,
                                  chunk_id * {stride} + {max_tokens}), ' ') AS chunk_text,
       char_start,
       char_end,
       substr(text, char_start::INT, (char_end - char_start + 1)::INT) AS chunk_span
FROM spans
"""


def near_dup_clusters_sql(
    num_hashes: int = 16, bands: int = 4, n: int = 3, threshold: float = 0.5
) -> str:
    """Near-dup clusters as a recursive transitive closure: qualifying
    Jaccard pairs -> undirected edges -> reachability fixpoint ->
    keeper = min reachable node. The recursive CTE IS the declarative
    statement of what the engine's iterative min-label propagation
    converges to — the strongest oracle an iterative operator can have.
    The jaccard subquery emits round(j, 6), so >= threshold matches the
    engine's rounded comparison exactly."""
    return f"""
WITH RECURSIVE qual AS (
  SELECT doc_a, doc_b
  FROM ({ngram_jaccard_sql(num_hashes, bands, n)})
  WHERE jaccard >= {threshold}
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM qual
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM qual
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a::BIGINT AS doc_id,
       least(a, min(b))::BIGINT AS keeper_doc_id
FROM reach GROUP BY a
"""


def emb_near_dup_clusters_sql(threshold: float, num_planes: int = 8) -> str:
    """Embedding near-dup clusters: recursive transitive closure over
    the cosine-verified LSH pairs (mirror of near_dup_clusters_sql)."""
    return f"""
WITH RECURSIVE qual AS (
  SELECT vec_a, vec_b FROM ({emb_cosine_pairs_sql(threshold, num_planes)})
),
edges AS (
  SELECT vec_a AS a, vec_b AS b FROM qual
  UNION ALL
  SELECT vec_b AS a, vec_a AS b FROM qual
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a::BIGINT AS vec_id,
       least(a, min(b))::BIGINT AS keeper_vec_id
FROM reach GROUP BY a
"""
