"""The resumable run sink: per-partition lineage and checkpoint-resume,
shared by bucketed span-table runs and crawl archive runs.

North-rule requirement (no reference equivalent — the reference's restart
story is "rerun from scratch"): extraction over a 10^12-doc corpus must be
resumable.  Work is split into partitions keyed by one column: here a
hash bucket of doc_id (``|xxhash64(doc_id)| % num_buckets``, recomputable
on both input and output sides), in ``sources/warc_run.py`` an archive
basename.  ``run_partitions`` is the one protocol both surfaces call:

- resume = read ``<base>/lineage`` (missing reads as empty), skip keys
  already ``ok`` for this run_id; the rest, capped per call, are pending;
- output is written ``partitionBy(key)`` under ``<base>/spans`` with
  per-write dynamic partition overwrite: re-processing a key atomically
  replaces exactly its own files (the parquet-backed stand-in for Iceberg
  ``overwritePartitions``);
- ONE aggregation over the landed rows of the pending partitions only
  gives the metrics; their directories are resolved through the session's
  Hadoop ``FileSystem``, so it works on any Hadoop-compatible path and a
  catch-up's metric read stays O(new work).  ``doc_count`` is the
  caller's input documents per key when it supplies them (span tables:
  documents with no output rows count), else the distinct documents with
  a non-error row (crawls);
- one lineage row (run_id, key, doc/span/error counts, wall, status) per
  processed key is appended to ``<base>/lineage``; the wall is the whole
  call's, on a monotonic clock.
"""

from __future__ import annotations

import os
import time
from typing import Callable, Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from learnhtml_spark.schemas import LINEAGE


def bucket_col(num_buckets: int, col: str = "doc_id"):
    return (F.abs(F.xxhash64(F.col(col))) % num_buckets).cast("int")


def lineage_table(spark: SparkSession, base_path: str, schema: StructType) -> DataFrame:
    try:
        return spark.read.schema(schema).parquet(os.path.join(base_path, "lineage"))
    except AnalysisException:  # no lineage yet
        return spark.createDataFrame([], schema)


def completed_keys(lineage: DataFrame, run_id: str, key: str) -> set:
    rows = (
        lineage.filter((F.col("run_id") == run_id) & (F.col("status") == "ok"))
        .select(key)
        .distinct()
        .collect()
    )
    return {r[0] for r in rows}


def read_lineage(spark: SparkSession, base_path: str) -> DataFrame:
    return lineage_table(spark, base_path, LINEAGE)


def completed_buckets(spark: SparkSession, base_path: str, run_id: str) -> set[int]:
    return completed_keys(read_lineage(spark, base_path), run_id, "bucket")


def _landed(spark: SparkSession, spans_root: str, key: str,
            schema: StructType, pending: list) -> DataFrame:
    """The landed (doc_id, kind, key) rows of the pending partitions only.
    A partition whose work produced no rows has no directory, so keep the
    directories that exist (explicit schema: inference cannot read an
    empty table); ``basePath`` keeps the partition column."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path
    root = path(spans_root)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    catalog = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    names = [catalog.getPartitionPathString(key, str(k)) for k in pending]
    dirs = [os.path.join(spans_root, n) for n in names if fs.exists(path(root, n))]
    landed_schema = StructType([schema["doc_id"], schema["kind"], schema[key]])
    if not dirs:
        return spark.createDataFrame([], landed_schema)
    return (spark.read.schema(landed_schema)
            .option("basePath", spans_root).parquet(*dirs))


def run_partitions(
    spark: SparkSession,
    base_path: str,
    run_id: str,
    key: str,
    lineage_schema: StructType,
    candidates: Iterable,
    output_for: Callable[[list], DataFrame],
    max_per_call: int | None = None,
    inputs: DataFrame | None = None,
) -> dict:
    """Run (or resume) one partitioned job: ``output_for(pending)`` builds
    the output rows (with the ``key`` column) of the pending keys among
    ``candidates``; ``inputs``, when given, holds one row per input
    document with its ``key`` and supplies ``doc_count``.

    Returns {processed, skipped, docs, spans, errors}.  Idempotent: a
    completed run is a no-op on re-invocation."""
    done = completed_keys(lineage_table(spark, base_path, lineage_schema), run_id, key)
    pending = sorted(set(candidates) - done)
    if max_per_call is not None:
        pending = pending[:max_per_call]
    if not pending:
        return {"processed": [], "skipped": sorted(done), "docs": 0,
                "spans": 0, "errors": 0}

    spans_root = os.path.join(base_path, "spans")
    t0 = time.monotonic()
    out = output_for(pending)
    # per-write dynamic overwrite: only the pending keys' partitions are
    # replaced, without touching the session's overwrite mode
    out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(key).parquet(spans_root)
    wall_ms = int((time.monotonic() - t0) * 1000)

    is_error = F.col("kind") == "error"
    stats = _landed(spark, spans_root, key, out.schema, pending).groupBy(key).agg(
        F.countDistinct(F.when(~is_error, F.col("doc_id"))).alias("doc_count"),
        F.sum(F.when(~is_error, 1).otherwise(0)).alias("span_count"),
        F.sum(F.when(is_error, 1).otherwise(0)).alias("error_count"),
    )
    if inputs is not None:
        stats = (
            inputs.filter(F.col(key).isin(pending))
            .groupBy(key)
            .agg(F.count("*").alias("doc_count"))
            .join(stats.drop("doc_count"), key, "left")
        )
    counts = {
        r[key]: tuple(int(r[c] or 0) for c in ("doc_count", "span_count", "error_count"))
        for r in stats.collect()
    }
    rows = [(run_id, k, *counts.get(k, (0, 0, 0)), wall_ms, "ok") for k in pending]
    spark.createDataFrame(rows, lineage_schema).coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(base_path, "lineage"))
    return {
        "processed": pending,
        "skipped": sorted(done),
        "docs": sum(r[2] for r in rows),
        "spans": sum(r[3] for r in rows),
        "errors": sum(r[4] for r in rows),
    }


def write_extraction_run(
    docs: DataFrame,
    model_bytes: bytes,
    base_path: str,
    run_id: str,
    num_buckets: int = 16,
    max_buckets_per_call: int | None = None,
) -> dict:
    """Run (or resume) an extraction job: process pending buckets, write
    span output partitioned by bucket, append lineage rows.

    Returns a summary dict {processed_buckets, skipped_buckets, docs, spans}.
    Idempotent: a completed run is a no-op on re-invocation.
    """
    from learnhtml_spark.operators.extract import extract_content_spans

    bucketed = docs.withColumn("bucket", bucket_col(num_buckets))

    def output_for(pending: list) -> DataFrame:
        batch = bucketed.filter(F.col("bucket").isin(pending)).drop("bucket")
        out = extract_content_spans(batch, model_bytes)
        return out.withColumn("bucket", bucket_col(num_buckets))

    s = run_partitions(docs.sparkSession, base_path, run_id, "bucket", LINEAGE,
                       range(num_buckets), output_for, max_buckets_per_call,
                       inputs=bucketed)
    return {"processed_buckets": s["processed"], "skipped_buckets": s["skipped"],
            "docs": s["docs"], "spans": s["spans"]}
