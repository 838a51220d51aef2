"""S1/S6: source scan behind a thin format switch, and the engine's sink.

Production target is Iceberg (BASELINE.json:14 "over Iceberg tables of
source-code repositories"); this sandbox has no Iceberg runtime jar
(verified — SURVEY.md §0), so the local format is Parquet. Everything
downstream sees only DataFrames, so the switch is total at this layer.

Schemas are explicit — never inferred — matching the reference's
protobuf-fixed schemas (component-level [R]).

The sink is Parquet (every index reader scans Parquet) and has two
writers, each the only one of its kind: :func:`write_table` replaces a
whole table directory and :func:`write_json` a JSON sidecar. Both
finish the new copy before the old one goes, so no reader ever sees a
half-written table or a torn file.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# the pinned production input schema (BASELINE.json:15 input_hint)
CODE_FILES_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("source", StringType(), False),
        StructField("n_chars", LongType(), False),
    ]
)

FORMAT = os.environ.get("XSEARCH_TABLE_FORMAT", "parquet")  # "iceberg" in prod


def read_table(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    if FORMAT == "iceberg":
        return spark.read.format("iceberg").load(path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, f"{sf_dir}/documents.parquet", DOCUMENTS_SCHEMA)


def read_source(spark: SparkSession, path: str) -> DataFrame:
    """S1: the production source-code table, with the S3 content
    fingerprint attached (built-in sha2 — no UDF)."""
    df = read_table(spark, path, CODE_FILES_SCHEMA)
    return df.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def write_table(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Replace the table at ``path`` with ``df`` (``partitionBy`` the
    given column, if any): write a sibling temp dir, remove the old
    table, rename the temp dir into place. Every index, vector and
    doc-store table goes through it. A partition absent from ``df``
    disappears with the old table whatever the session's
    ``partitionOverwriteMode`` — an in-place write under dynamic
    overwrite would keep it as a stale partition (a rebuild with fewer
    buckets would serve the old ones). ``df`` may read the table it
    replaces (the compactions do): the write finishes before the old
    table is removed."""
    tmp = path + "_writing"
    shutil.rmtree(tmp, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def write_json(path: str, obj: object, **dump_kw: object) -> None:
    """Replace the JSON file at ``path`` with ``obj`` (``json.dump``
    keywords pass through): write ``<path>.tmp``, then rename it into
    place, so a reader never sees a torn file. The one temp-then-rename
    JSON writer (stats.json, stage manifests, epoch and ANN sidecars)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, **dump_kw)
    os.replace(tmp, path)
