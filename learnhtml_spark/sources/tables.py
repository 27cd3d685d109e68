"""The resumable run sink: per-partition lineage and checkpoint-resume,
shared by bucketed span-table runs and crawl archive runs.

North-rule requirement (no reference equivalent — the reference's restart
story is "rerun from scratch"): extraction over a 10^12-doc corpus must be
resumable.  Work is split into partitions keyed by one column: here a
hash bucket of doc_id (``|xxhash64(doc_id)| % num_buckets``), in
``sources/warc_run.py`` an archive basename.  ``run_partitions`` is the
one protocol both surfaces call:

- resume = read ``<base>/lineage`` (missing reads as empty), skip keys
  already ``ok`` for this run_id; the rest, capped per call, are pending;
- output is written ``partitionBy(key)`` under ``<base>/spans`` with
  per-write dynamic partition overwrite: re-processing a key atomically
  replaces exactly its own files (the parquet-backed stand-in for Iceberg
  ``overwritePartitions``);
- a span table's bucket is computed, so every call scans the whole input
  and filters it to the pending buckets; a range exchange on
  ``(bucket, doc_id)`` (its bounds cost one sampling job) then feeds the
  kernel ``spark.sql.shuffle.partitions`` tasks, each holding one
  contiguous run of buckets, so a call writes at most pending + tasks - 1
  span files (not input splits x pending) and its Python task count does
  not grow with the input's splits;
- the metrics are kernel counters, a by-product of that one write: the
  kernel's ``mapInPandas`` adds each batch's per-key (docs, spans,
  errors) tally to a per-call accumulator, counted exactly once as the
  write's result stage (``run_partitions``; the range exchange is below
  the kernel, not between it and the writer), so nothing re-reads the
  output.  ``doc_count`` is a span table's input documents
  per bucket (documents with no output rows count) or a crawl's distinct
  pages with a non-error row per archive;
- one lineage row (run_id, key, doc/span/error counts, wall, status) per
  processed key is appended to ``<base>/lineage`` from an Arrow-backed
  local frame; the wall is the write's, on a monotonic clock.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from typing import Callable, Iterable

from pyspark import Accumulator
from pyspark.accumulators import AddingAccumulatorParam
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from learnhtml_spark.log import logger
from learnhtml_spark.operators.extract import check_model, keyed_spans
from learnhtml_spark.schemas import EXTRACTED_SPANS, LINEAGE, local_frame


def bucket_col(num_buckets: int, col: str = "doc_id"):
    return (F.abs(F.xxhash64(F.col(col))) % num_buckets).cast("int")


def lineage_table(spark: SparkSession, base_path: str, schema: StructType) -> DataFrame:
    try:
        return spark.read.schema(schema).parquet(os.path.join(base_path, "lineage"))
    except AnalysisException:  # no lineage yet
        return local_frame(spark, [], schema)


def completed_keys(lineage: DataFrame, run_id: str, key: str) -> set:
    ok = lineage.filter((F.col("run_id") == run_id) & (F.col("status") == "ok"))
    return {r[0] for r in ok.select(key).collect()}


def read_lineage(spark: SparkSession, base_path: str) -> DataFrame:
    return lineage_table(spark, base_path, LINEAGE)


def completed_buckets(spark: SparkSession, base_path: str, run_id: str) -> set[int]:
    return completed_keys(read_lineage(spark, base_path), run_id, "bucket")


def check_max_per_call(max_per_call: int | None) -> None:
    """A per-call cap is None (no cap) or a positive key count."""
    if max_per_call is not None and max_per_call < 1:
        raise ValueError(f"max_per_call must be None or >= 1, got {max_per_call}")


def run_partitions(
    spark: SparkSession,
    base_path: str,
    run_id: str,
    key: str,
    lineage_schema: StructType,
    candidates: Iterable,
    output_for: Callable[[list, Accumulator], DataFrame],
    max_per_call: int | None = None,
) -> dict:
    """Run (or resume) one partitioned job: ``output_for(pending, counts)``
    builds the output rows (with the ``key`` column) of the pending keys
    among ``candidates`` through the kernel, which adds every batch's
    ``tally`` to ``counts``, the lineage rows' source.

    Why they count exactly once: the kernel's ``mapInPandas`` runs in the
    write's result stage, since nothing between it and the writer adds an
    Exchange (a plan test pins this on both surfaces).  Spark merges a
    result task's accumulator update once per partition, from its first
    successful attempt; failed attempts and speculative copies are
    dropped.  In a shuffle map stage a recomputed task would add again.

    Returns {processed, skipped, docs, spans, errors} and logs it on one
    INFO line.  Idempotent: a completed run is a no-op on re-invocation."""
    check_max_per_call(max_per_call)
    done = completed_keys(lineage_table(spark, base_path, lineage_schema), run_id, key)
    pending = sorted(set(candidates) - done)
    if max_per_call is not None:
        pending = pending[:max_per_call]
    rows, wall_ms = [], 0
    if pending:
        counts = spark.sparkContext.accumulator(
            Counter(), AddingAccumulatorParam(Counter()))
        t0 = time.monotonic()
        # per-write dynamic overwrite: only the pending keys' partitions are
        # replaced, without touching the session's overwrite mode
        output_for(pending, counts).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(key).parquet(os.path.join(base_path, "spans"))
        wall_ms = int((time.monotonic() - t0) * 1000)
        rows = [(run_id, k, *(counts.value[k, i] for i in range(3)), wall_ms, "ok")
                for k in pending]
        local_frame(spark, rows, lineage_schema).coalesce(1).write.mode(
            "append"
        ).parquet(os.path.join(base_path, "lineage"))
    docs, spans, errors = (sum(r[i] for r in rows) for i in (2, 3, 4))
    logger.info("run %s by %s: %d processed, %d skipped, %d docs, %d spans, "
                "%d errors, wall_ms %d", run_id, key, len(pending), len(done),
                docs, spans, errors, wall_ms)
    return {"processed": pending, "skipped": sorted(done), "docs": docs,
            "spans": spans, "errors": errors}


def write_extraction_run(
    docs: DataFrame,
    model_bytes: bytes,
    base_path: str,
    run_id: str,
    num_buckets: int = 16,
    max_buckets_per_call: int | None = None,
    depth: int = 5,
    height: int = 5,
) -> dict:
    """Run (or resume) an extraction job: process pending buckets, write
    span output partitioned by bucket, append lineage rows.  ``depth`` /
    ``height`` are the featurizer window, as in ``extract_content_spans``;
    the model is checked against it before any job, and so are
    ``num_buckets`` and ``max_buckets_per_call`` (``ValueError`` below 1).
    The kernel runs ``spark.sql.shuffle.partitions`` tasks per call.

    Returns a summary dict {processed_buckets, skipped_buckets, docs, spans}.
    Idempotent: a completed run is a no-op on re-invocation.
    """
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    check_model(model_bytes, depth, height)
    spark = docs.sparkSession
    bucketed = docs.withColumn("bucket", bucket_col(num_buckets))
    # the bucket rides through the kernel as the leading key component
    schema = StructType([LINEAGE["bucket"], *EXTRACTED_SPANS.fields])

    def output_for(pending: list, counts: Accumulator) -> DataFrame:
        # one contiguous (bucket, doc_id) range per kernel task; the task
        # count is explicit, or AQE coalesces a few MB of pending input
        # into a couple of kernel tasks
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        batch = (bucketed.filter(F.col("bucket").isin(pending))
                 .repartitionByRange(n, "bucket", "doc_id"))
        return keyed_spans(batch, model_bytes, ["bucket", "doc_id"], schema,
                           depth, height, counts)

    s = run_partitions(spark, base_path, run_id, "bucket", LINEAGE,
                       range(num_buckets), output_for, max_buckets_per_call)
    return {"processed_buckets": s["processed"], "skipped_buckets": s["skipped"],
            "docs": s["docs"], "spans": s["spans"]}
