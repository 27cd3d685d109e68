"""Checkpoint-resumable extraction runs over WARC crawl archives.

North-rule requirement on the realistic input: a crawl-extraction job
over ~100k archives (~100 TB) must be resumable with per-partition
lineage + metrics.  Here the natural unit of work, checkpointing, AND
output partitioning is the archive file (the CommonCrawl convention —
production crawl jobs track a manifest of processed WARC paths):

- one task per archive, end-to-end in ONE ``mapInPandas``
  (``warc_spans_fused``): WARC framing -> gzip members -> HTTP decode ->
  interleaved page assembly -> the shared document kernel
  (``kernels/document.py``: parse -> blockify -> density rules or model
  -> ordered spans).  Pages are keyed ``(archive, uri)``, a key the kernel
  carries through untouched, so the archive column needs no packing, no
  join and no second stage; the job, write included, runs with zero
  exchanges;
- failures follow the kernel's one error-row contract on both verdicts:
  an archive that cannot be decoded, a record that cannot be decoded and
  a page that cannot be extracted each become a ``kind='error'``,
  ``offset=-1`` row, counted into the archive's lineage ``error_count``;
- resume, output and lineage are the one protocol of
  ``sources/tables.run_partitions``, keyed by ``archive``: output is
  ``partitionBy(archive)`` with dynamic partition overwrite, one lineage
  row (run_id, archive, doc/span/error counts, wall, status) lands per
  processed archive, and its counts are kernel counters the fused stage
  adds as it runs (counted once: it is the write's result stage), never a
  read of the output.  Resume = skip archives already ``ok`` for this
  run_id.  New archives appearing in the directory are picked up by the
  next invocation (incremental crawl catch-up) while finished ones are
  never re-read — the input listing is pruned BEFORE any bytes are read,
  so a resumed job's scan cost is proportional to remaining work.

The driver-side state is one row per archive (the manifest) — ~100k
strings at 100 TB, trivially collectable; all per-document work stays on
executors.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from learnhtml_spark.kernels.document import (
    error_row, extract_rows, python_task, tally)
from learnhtml_spark.operators.extract import broadcast_model
from learnhtml_spark.schemas import EXTRACTED_SPANS
from learnhtml_spark.sources.tables import (
    check_max_per_call,
    completed_keys,
    lineage_table,
    run_partitions,
)
from learnhtml_spark.sources.warc_source import assemble_interleaved, parse_archive

WARC_LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("archive", StringType(), False),
        StructField("doc_count", LongType()),
        StructField("span_count", LongType()),
        StructField("error_count", LongType()),
        # wall clock of the WHOLE batch call that landed this archive (the
        # same value is stamped on every archive of one call) — named so
        # the manifest cannot be misread as per-archive timing.  Renamed
        # from ``wall_ms``; rows written before the rename read back null
        # here, since the lineage is read by name with this schema
        StructField("batch_wall_ms", LongType()),
        StructField("status", StringType()),
    ]
)

#: the kernel's output rows led by the archive key
WARC_SPANS = StructType([WARC_LINEAGE["archive"], *EXTRACTED_SPANS.fields])


def warc_spans_fused(raw: DataFrame, model_bytes: bytes | None = None) -> DataFrame:
    """(path, content) archive rows -> ordered spans with the archive
    basename attached: WARC decode, then the document kernel over the
    archives' pages keyed ``(archive, uri)``.  ``model_bytes`` None selects
    the density rules, an artifact the classifier (one predict per kernel
    batch).  One task per archive, one ``mapInPandas``, zero exchanges.

    Pages reach the kernel in batches of at most the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` documents, however
    many pages an archive holds: on the model path that is how many parsed
    trees are live at once."""
    return _archive_spans(raw, model_bytes, None)


def _archive_spans(raw: DataFrame, model_bytes: bytes | None,
                   counts: Accumulator | None) -> DataFrame:
    """``warc_spans_fused``; ``counts``, a run sink's accumulator, gets
    each kernel batch's ``tally`` per archive, a document being a page of
    the archive with a non-error row (one task sees an archive's pages)."""
    spark = raw.sparkSession
    load = None if model_bytes is None else broadcast_model(spark, model_bytes)
    batch_docs = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    @python_task
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        clf = None if load is None else load()
        cols = WARC_SPANS.fieldNames()
        counted: set = set()  # (archive, uri) pages already counted

        def frame(rows: list) -> pd.DataFrame:
            if counts is not None:
                pages = {r[:2] for r in rows if r[2] != "error"} - counted
                counted.update(pages)
                counts.add(tally(rows, (archive for archive, _ in pages)))
            return pd.DataFrame(rows, columns=cols)

        rows, docs = [], []
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                base = os.path.basename(path)
                try:
                    pages, errors = assemble_interleaved(parse_archive(path, content))
                except Exception as exc:  # noqa: BLE001 — archive-level poison
                    rows.append(error_row((base, ""), exc))
                    continue
                rows.extend(error_row((base, uri), err) for uri, err in errors)
                for uri, spans in pages:
                    docs.append(((base, uri), spans))
                    if len(docs) == batch_docs:
                        rows.extend(extract_rows(docs, clf))
                        yield frame(rows)
                        rows, docs = [], []
        rows.extend(extract_rows(docs, clf))
        yield frame(rows)

    return raw.mapInPandas(run, schema=WARC_SPANS)


def _read_lineage(spark: SparkSession, base_path: str) -> DataFrame:
    return lineage_table(spark, base_path, WARC_LINEAGE)


def completed_archives(spark: SparkSession, base_path: str, run_id: str) -> set[str]:
    return completed_keys(_read_lineage(spark, base_path), run_id, "archive")


def list_archives(spark: SparkSession, warc_dir: str) -> dict[str, str]:
    """basename -> full path manifest of the archive directory.  Uses the
    binaryFile listing (works on any Hadoop-compatible FS) but reads ZERO
    content bytes — the listing is metadata-only until content is
    projected.  ~100k rows at 100 TB, fine to collect."""
    rows = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(warc_dir)
        .select("path")
        .collect()
    )
    return {os.path.basename(r.path): r.path for r in rows}


def write_warc_run(
    spark: SparkSession,
    warc_dir: str,
    base_path: str,
    run_id: str,
    max_archives_per_call: int | None = None,
    model_bytes: bytes | None = None,
) -> dict:
    """Run (or resume) a crawl extraction over an archive directory.

    Idempotent per archive: completed archives are pruned from the input
    listing before any content is read; a rerun after new archives land
    processes only the new ones.  Returns {processed, skipped, docs,
    spans, errors}.

    ``model_bytes``: None -> the heuristic density extractor (cheap
    first-pass strip); a NodeClassifier artifact -> the full ML
    extraction path.  Either way through ``warc_spans_fused``.
    """
    check_max_per_call(max_archives_per_call)  # before the listing job
    manifest = list_archives(spark, warc_dir)

    def output_for(pending: list, counts: Accumulator) -> DataFrame:
        raw = (
            spark.read.format("binaryFile")
            .load([manifest[b] for b in pending])
            .select("path", "content")
        )
        return _archive_spans(raw, model_bytes, counts)

    return run_partitions(spark, base_path, run_id, "archive", WARC_LINEAGE,
                          manifest, output_for, max_archives_per_call)
