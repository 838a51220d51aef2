"""The one source packer (``segments.pack_from_source``: tokenize, tf,
dl and pack in one Arrow UDF) must carry exactly the postings of the
declarative explode+groupBy path on both tokenizer variants — decoded
from its packed runs, (term, doc_id) -> (tf, dl) equals
``postings_with_dl``. Every producer that tokenizes text (batch build,
streamed epochs) packs through it."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from xsearch_spark.functions import codec
from xsearch_spark.operators import build as b
from xsearch_spark.operators.segments import pack_from_source
from xsearch_spark.sources.io import read_documents


def _as_dict(rows):
    return {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in rows}


def _packed_dict(packed):
    """Decode packed runs to (term, doc_id) -> (tf, dl); a posting packed
    into two runs would be a pack bug, so duplicates fail."""
    out: dict = {}
    for r in packed.select("term", "doc_ids", "tfs", "dls").collect():
        ids = codec.decode_doc_ids(bytes(r["doc_ids"]))
        tfs = codec.decode_tfs(bytes(r["tfs"]))
        dls = codec.decode_tfs(bytes(r["dls"]))
        assert ids.size == tfs.size == dls.size
        for d, tf, dl in zip(ids.tolist(), tfs.tolist(), dls.tolist()):
            assert (r["term"], d) not in out, (r["term"], d)
            out[(r["term"], d)] = (tf, dl)
    return out


def test_fused_equals_declarative_base(spark):
    docs = read_documents(spark, SF_DIR)
    tok = b.with_tokens(docs, "text", "base")
    a = _as_dict(b.postings_with_dl(tok).collect())
    c = _packed_dict(pack_from_source(docs, "text", "doc_id", "base"))
    assert a == c


def test_fused_equals_declarative_code(spark):
    from xsearch_spark.sources.datagen import generate_code_files
    from xsearch_spark.sources.ids import assign_doc_ids_global
    from xsearch_spark.sources.io import read_source

    path = generate_code_files("0.001", "/root/repo/.cache/code_files/sf0.001")
    src = assign_doc_ids_global(read_source(spark, path))
    tok = b.with_tokens(src, "content", "code")
    a = _as_dict(b.postings_with_dl(tok).collect())
    c = _packed_dict(pack_from_source(src, "content", "doc_id", "code"))
    assert a == c


def test_fused_empty_and_null_text(spark):
    rows = [(0, "hello world"), (1, ""), (2, None), (3, "...")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _packed_dict(pack_from_source(df, "text", "doc_id", "base"))
    assert got == {("hello", 0): (1, 2), ("world", 0): (1, 2)}


def test_pack_one_partition_input_one_run_per_term_segment(spark):
    """An input with fewer partitions than cores (a one-bucket ids
    checkpoint is one file) and at least cores-many segments is
    exchanged by whole segments: every (term, seg_id) leaves the packer
    as exactly one run, with n_docs passed as the batch build and
    perfbench pass it, and the postings are the declarative path's."""
    docs = read_documents(spark, SF_DIR)
    one = docs.coalesce(1)
    n = one.count()
    packed = pack_from_source(one, "text", "doc_id", "base", 64, n_docs=n)
    keys = [(r["term"], r["seg_id"]) for r in packed.select("term", "seg_id").collect()]
    assert len(keys) == len(set(keys))
    assert {s for _, s in keys} == set(range(-(-n // 64)))
    tok = b.with_tokens(docs, "text", "base")
    assert _packed_dict(packed) == _as_dict(b.postings_with_dl(tok).collect())


def test_pack_few_segments_input_spreads_over_tasks(spark):
    """An input with fewer segments than cores is NOT keyed by segment,
    which would tokenize it in one task per segment: it is split into
    contiguous doc ranges over several tasks, whose partial runs carry
    the declarative path's postings."""
    from pyspark.sql import functions as F

    docs = read_documents(spark, SF_DIR)
    one = docs.coalesce(1)
    n = one.count()
    packed = pack_from_source(one, "text", "doc_id", "base", n, n_docs=n)
    tasks = packed.select(F.spark_partition_id().alias("p")).distinct().count()
    assert tasks >= spark.sparkContext.defaultParallelism
    assert {r["seg_id"] for r in packed.select("seg_id").distinct().collect()} == {0}
    tok = b.with_tokens(docs, "text", "base")
    assert _packed_dict(packed) == _as_dict(b.postings_with_dl(tok).collect())


def test_segmented_pack_equals_pergroup_reference():
    """Round-5: _pack_groups_frame (one vectorized pass per flush) must
    be BYTE-identical to the per-group _pack_group reference — blobs,
    block metadata, stats, positions — on randomized grouped postings."""
    import numpy as np

    from xsearch_spark.operators.segments import (
        PACKED_SCHEMA,
        _pack_group,
        _pack_groups_frame,
    )

    rng = np.random.default_rng(991)
    for trial in range(25):
        n_groups = int(rng.integers(1, 40))
        ids_l, tfs_l, dls_l, pos_l, terms, segs = [], [], [], [], [], []
        for g in range(n_groups):
            m = int(rng.integers(1, 300))
            ids = np.sort(rng.choice(1 << 30, size=m, replace=False)).astype(np.int64)
            tfs = rng.integers(1, 7, size=m).astype(np.int64)
            dls = rng.integers(1, 400, size=m).astype(np.int64)
            ids_l.append(ids); tfs_l.append(tfs); dls_l.append(dls)
            pos_l.append(
                np.concatenate(
                    [np.sort(rng.integers(1, 500, size=t)) for t in tfs]
                ).astype(np.int64)
            )
            terms.append(f"t{g}")
            segs.append(int(rng.integers(0, 5)))
        lens = np.array([a.size for a in ids_l])
        starts = (np.cumsum(lens) - lens).astype(np.int64)
        avgdl = float(rng.uniform(5, 50)) if trial % 2 else None
        got = _pack_groups_frame(
            np.array(segs, dtype=np.int64),
            np.array(terms, dtype=object),
            np.concatenate(ids_l),
            np.concatenate(tfs_l),
            np.concatenate(dls_l),
            starts,
            avgdl,
            np.concatenate(pos_l),
        )
        for i in range(n_groups):
            ref = _pack_group(
                segs[i], terms[i], ids_l[i], tfs_l[i], dls_l[i], avgdl, pos_l[i]
            )
            row = got.iloc[i]
            for f in PACKED_SCHEMA.fields:
                a, b = row[f.name], ref[f.name]
                if isinstance(b, list):
                    assert list(a) == b, (trial, i, f.name)
                else:
                    assert a == b, (trial, i, f.name)
