"""Streaming crawl ingestion: WARC archives as a Structured Streaming
file source.

Complement to the lineage-based batch path (sources/warc_run.py): here
the processed-file manifest is Structured Streaming's own checkpoint
(the file source records every seen path in the checkpoint log), giving
exactly-once per-archive processing, automatic catch-up of newly landed
archives on the next trigger, and crash-resume for free.  The plan is
the SAME fused per-archive kernel as the batch run — WARC framing ->
gzip members -> HTTP decode -> interleaved assembly -> heuristic
extraction in one mapInPandas — so stream and batch produce identical
rows (stateless: no state stores, shuffle.partitions irrelevant).

Production shape at 100 TB: a continuous trigger with
``maxFilesPerTrigger`` bounding micro-batch size (one archive is one
task; a 1000-file batch is a 1000-task stage), parquet sink appends,
checkpoint on durable storage.  Tests and the driver query use
Trigger.AvailableNow replay, the repo's standard batch==stream
attestation (streaming/dedup_stream.py pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from learnhtml_spark.sources.warc_run import WARC_SPANS, warc_spans_fused

#: binaryFile's fixed schema — streaming sources require it stated
BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def warc_stream_spans(
    spark: SparkSession,
    warc_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming (unbounded) spans DataFrame over an archive directory."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.warc*")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(warc_dir).select("path", "content")
    return warc_spans_fused(raw)


def run_available_now(
    spark: SparkSession,
    warc_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
) -> DataFrame:
    """One AvailableNow pass: process every archive not yet recorded in
    the checkpoint, append to the parquet sink, return the sink as a
    batch DataFrame.  Re-invoking after new archives land processes only
    the new ones (file-source exactly-once)."""
    q = (
        warc_stream_spans(spark, warc_dir)
        .writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"warc stream did not drain in {timeout_s}s")
    return spark.read.schema(WARC_SPANS).parquet(sink_dir)
