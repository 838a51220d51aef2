"""BM25 scoring as pure Column expressions (SURVEY.md Q6).

No UDF: the whole score is JVM-side arithmetic inside whole-stage
codegen. k1=1.2, b=0.75 pinned by BASELINE.json:6 ("same
parameterization as xsearch's searcher"); idf variant frozen in
FIXTURES.md §3.2.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from xsearch_spark.constants import B, K1


def idf_col(n_docs, df_col: Column) -> Column:
    """ln(1 + (N - df + 0.5) / (df + 0.5)) — Lucene-style non-negative."""
    n = F.lit(float(n_docs)) if not isinstance(n_docs, Column) else n_docs
    return F.log(F.lit(1.0) + (n - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def bm25_weight_col(idf: Column, tf: Column, dl: Column, avgdl) -> Column:
    """idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) — all float64."""
    a = F.lit(float(avgdl)) if not isinstance(avgdl, Column) else avgdl
    tf_d = tf.cast("double")
    dl_d = dl.cast("double")
    denom = tf_d + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl_d / a)
    return idf * tf_d * F.lit(K1 + 1.0) / denom
