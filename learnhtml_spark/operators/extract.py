"""Spark operators: DOM parse → features → classify → ordered span output.

The serving pipeline (reference lifecycle 3.1/3.3 re-expressed Spark-first):

    spark.read (docs table: doc_id, spans)
      → [optional] repartition(hash(doc_id) [+ salt])     # giant-page skew
      → mapInPandas(parse + blockify + featurize + broadcast-model predict)
      → ordered (doc_id, kind, text, media_ref, offset) span rows

Design notes for 100 TB scale:
- ONE mapInPandas stage does everything per document — the shared document
  kernel (kernels/document.py) with one model predict per Arrow batch; no
  explode of parsed nodes into a distributed table, no join between
  features and predictions, zero shuffles in the default plan
  (scan → map → write).
- The model is shipped once per executor via ``SparkContext.broadcast`` of
  the serialized artifact; deserialized lazily per python worker.
- Documents never split across partitions (rows are atomic), matching the
  reference's partitioning unit (features.py:334) — skew from giant pages
  is handled by salted repartition (``salt_partitions``) and by Arrow batch
  sizing, not by splitting documents.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from learnhtml_spark.htmlparse import parse_html
from learnhtml_spark.kernels.document import (
    check_model_columns, concat_columns, extract_rows, spans_list, tally)
from learnhtml_spark.kernels.features import extract_features_from_tree
from learnhtml_spark.kernels.labeling import (
    NON_CONTENT_BLOCK_RATIO,
    get_ratios_per_html,
)
from learnhtml_spark.model import NodeClassifier
from learnhtml_spark.schemas import (
    DOCS,
    EXTRACTED_SPANS,
    LABELS,
    local_frame,
    node_features_schema,
)
from learnhtml_spark.spans import html_from_spans


#: per-python-worker deserialized model cache (workers handle many tasks;
#: deserializing the broadcast payload once per task measurably dominated
#: the UDF at high parallelism)
_MODEL_CACHE: dict = {}


def _load_model(key, payload: bytes) -> NodeClassifier:
    model = _MODEL_CACHE.get(key)
    if model is None:
        # dispatches on the artifact type: hashed NodeClassifier (the 100 TB
        # default) or the exact-vectorizer pipeline (MODEL.md's
        # measured-better config, selectable via `extract --model exact.npz`)
        from learnhtml_spark.exact_model import load_any_model

        model = load_any_model(payload)
        _MODEL_CACHE.clear()  # keep at most one model resident per worker
        _MODEL_CACHE[key] = model
    return model


def check_model(model: NodeClassifier | bytes, depth: int = 5, height: int = 5):
    """Driver-side ``check_model_columns`` of a model or artifact, so a
    mismatch raises before any job instead of inside an executor."""
    from learnhtml_spark.exact_model import load_any_model

    clf = load_any_model(bytes(model)) if isinstance(model, (bytes, bytearray)) else model
    check_model_columns(clf, depth, height)


def broadcast_model(spark: SparkSession, model: NodeClassifier | bytes,
                    depth: int = 5, height: int = 5):
    """Check a model artifact against the featurizer (``check_model``), then
    ship it once per executor; returns the zero-argument loader a python
    worker calls to get its cached deserialized model."""
    check_model(model, depth, height)
    payload = model if isinstance(model, (bytes, bytearray)) else model.to_bytes()
    payload = bytes(payload)
    bc = spark.sparkContext.broadcast(payload)
    key = ("model", len(payload), hash(payload[:512]), hash(payload[-512:]))
    return lambda: _load_model(key, bc.value)


def repartition_docs(
    docs: DataFrame, num_partitions: int, salt_buckets: int = 1, seed: int = 0x5A17
) -> DataFrame:
    """Salted doc-hash repartition: distributes giant-page skew by spreading
    hash buckets over ``salt_buckets`` extra keys (SURVEY.md §4 — the one
    distribution concern Catalyst does not solve for per-row compute skew).

    The salt MUST be a pure function of the row: a nondeterministic key
    (e.g. monotonically_increasing_id) re-evaluates differently when a
    stage is retried on a real cluster, losing/duplicating rows
    (SPARK-23207 class of bug).  We derive it from a second, independent
    hash of doc_id — same skew-spreading effect, fully deterministic."""
    if salt_buckets <= 1:
        return docs.repartition(num_partitions, F.col("doc_id"))
    salt = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed)), F.lit(salt_buckets))
    return docs.repartition(num_partitions, F.col("doc_id"), salt)


def extract_content_spans(
    docs: DataFrame,
    model: NodeClassifier | bytes,
    depth: int = 5,
    height: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """The flagship operator: classify each document's blocks and emit the
    ordered content+media span sequence (kernels/document.py, one model
    predict per Arrow batch)."""
    if num_partitions:
        docs = repartition_docs(docs, num_partitions)
    return keyed_spans(docs, model, ["doc_id"], EXTRACTED_SPANS, depth, height)


def keyed_spans(docs: DataFrame, model: NodeClassifier | bytes | None, keys: list[str],
                schema: StructType, depth: int = 5, height: int = 5,
                counts: Accumulator | None = None) -> DataFrame:
    """The one ``mapInPandas`` body of span-table extraction: rows lead with
    the ``keys`` columns (``doc_id`` last) of ``schema``; ``model`` None
    selects the density rules.  ``counts``, a run sink's accumulator, gets
    each batch's ``tally`` by ``keys[0]``."""
    load = None if model is None else broadcast_model(
        docs.sparkSession, model, depth, height)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        clf = None if load is None else load()
        cols = schema.fieldNames()
        for pdf in batches:
            keyed = zip(zip(*(pdf[k] for k in keys)), pdf["spans"])
            rows = extract_rows(keyed, clf, depth, height)
            if counts is not None:
                counts.add(tally(rows, pdf[keys[0]]))
            yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(run, schema=schema)


def extract_node_features(
    docs: DataFrame, depth: int = 5, height: int = 5
) -> DataFrame:
    """Per-node feature table (reference `dom` command, lifecycle 3.1):
    one row per DOM node keyed by (doc_id, path)."""
    schema = node_features_schema(depth, height)
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # column dicts per doc, ONE DataFrame per batch: the pandas
            # constructor on 100+ columns costs ~4× the feature kernel
            # itself when built per doc
            col_dicts = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                html, _ = html_from_spans(spans_list(spans))
                root = parse_html(html) if html else None
                if root is None:
                    continue
                d = extract_features_from_tree(root, depth, height, as_columns=True)
                d["doc_id"] = [doc_id] * len(d["path"])
                col_dicts.append(d)
            if col_dicts:
                yield pd.DataFrame(concat_columns(col_dicts, names), columns=names)
            else:
                yield pd.DataFrame(columns=names)

    return docs.mapInPandas(run, schema=schema)


def label_documents(docs_with_gold: DataFrame) -> DataFrame:
    """Labeling operator (reference lifecycle 3.2): input rows carry
    (doc_id, spans, gold_blocks); output one row per node with the LCS
    inclusion ratio and threshold labels."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "doc_id",
            "node_path",
            "content_label",
            "ratio",
            "is_extracted_block",
            "block_text",
        ]
        for pdf in batches:
            rows = []
            for doc_id, spans, gold in zip(
                pdf["doc_id"], pdf["spans"], pdf["gold_blocks"]
            ):
                html, _ = html_from_spans(spans_list(spans))
                gold = list(gold) if gold is not None else []
                for path, ratio, text in get_ratios_per_html(html, gold):
                    rows.append(
                        (
                            doc_id,
                            path,
                            ratio > 0.1,
                            float(ratio),
                            ratio != NON_CONTENT_BLOCK_RATIO,
                            text,
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return docs_with_gold.mapInPandas(run, schema=LABELS)


def docs_from_pairs(
    spark: SparkSession, pairs: list[tuple[str, list[dict]]]
) -> DataFrame:
    """Small-data helper: build a docs DataFrame from (doc_id, spans)."""
    return local_frame(spark, pairs, DOCS)
