"""Spark schemas for the extraction engine (explicit StructTypes — the
reference declared dask metas per stage, features.py:345-347; here every
stage has a fixed schema so Catalyst can prune/pushdown)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from learnhtml_spark.kernels.features import (
    DESCENDANT_FEATURES,
    LOCAL_COLUMNS,
)

#: input corpus (BASELINE.json input_hint): one row per document,
#: interleaved text+media spans in offset order
SPAN = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN)),
    ]
)

#: pipeline output: ordered content/media span sequence per document —
#: the correctness contract is per-doc sequence equality on
#: (kind, text, media_ref, offset order)
EXTRACTED_SPANS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType(), False),
    ]
)

#: per-node labels (FIXTURES.md §4)
LABELS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("node_path", StringType(), False),
        StructField("content_label", BooleanType()),
        StructField("ratio", DoubleType()),
        StructField("is_extracted_block", BooleanType()),
        StructField("block_text", StringType()),
    ]
)

#: per-partition lineage/metrics rows enabling checkpoint-resume
LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("doc_count", LongType()),
        StructField("span_count", LongType()),
        StructField("error_count", LongType()),
        StructField("wall_ms", LongType()),
        StructField("status", StringType()),
    ]
)


def node_features_schema(depth: int, height: int) -> StructType:
    """Schema of the per-node feature table for given tree-window sizes,
    column order identical to the kernel's frame (local, descendant,
    ancestor, path) plus the leading doc_id."""
    fields = [StructField("doc_id", StringType(), False)]

    def local_field(name: str, prefix: str = "") -> StructField:
        if name in ("tag", "class_text", "id_text"):
            t = StringType()
        else:
            t = LongType()
        return StructField(prefix + name, t)

    fields += [local_field(c) for c in LOCAL_COLUMNS]
    for i in range(1, depth + 1):
        for name in DESCENDANT_FEATURES:
            if name == "no_nodes":
                t = LongType()
            elif name in ("classes", "ids", "tags"):
                t = StringType()
            else:
                t = DoubleType()
            fields.append(StructField(f"descendant{i}_{name}", t))
    for i in range(1, height + 1):
        fields += [local_field(c, f"ancestor{i}_") for c in LOCAL_COLUMNS]
    fields.append(StructField("path", StringType(), False))
    return StructType(fields)


def local_frame(spark, rows: list[tuple], schema: StructType | str):
    """Driver-side rows as a local relation built from one Arrow table, so
    no Python-worker stage runs whatever the session's Arrow setting
    (``createDataFrame`` of a list pickles its rows through one)."""
    schema = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    rows = [dict(zip(schema.names, r)) for r in rows]
    table = pa.Table.from_pylist(rows, to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
