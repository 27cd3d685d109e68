"""Training on the serving kernel: label fixture/synthetic documents and
fit the broadcastable node classifier.

The reference joins node features with labels on ``(url, path)``
(cli/utils.py:27-47); here a training row IS a serving row, so there is no
join.  A page goes through the document kernel's ``parse_doc`` and its one
featurizer ``block_columns`` (block-start nodes, the reference's
``is_extracted_block`` filter, model_selection.py:447-455), and each block
gets a label from the same parsed blocks: LCS (``lcs_labels``, inclusion
ratio > ``RATIO_THRESHOLD``) or exact (``exact_labels``, block text is a
known content text).  Labels are keyed by block start path, the last
duplicate winning.  ``training_rows`` is the same featurizer over each Arrow batch in one
``mapInPandas``, for distributed training."""

from __future__ import annotations

import numpy as np
import pandas as pd

# the block stats live in the kernel; re-exported because perfbench/ledger.py imports them from here
from learnhtml_spark.kernels.document import BLOCK_STAT_COLUMNS, block_stats_list  # noqa: F401
from learnhtml_spark.kernels.document import (
    Doc,
    block_columns,
    block_frame_columns,
    html_doc,
    parse_doc,
    python_task,
    spans_list,
)
from learnhtml_spark.kernels.labeling import block_ratios
from learnhtml_spark.model import NodeClassifier

RATIO_THRESHOLD = 0.1


def lcs_labels(doc: Doc, gold_blocks: list[str]) -> list[int]:
    """Per-block labels: LCS inclusion ratio > ``RATIO_THRESHOLD``."""
    return [
        int(r > RATIO_THRESHOLD)
        for _, r in block_ratios(doc.blocks, doc.paths, gold_blocks)
    ]


def exact_labels(doc: Doc, content_texts: list[str]) -> list[int]:
    """Per-block labels: the block's text is one of ``content_texts``."""
    want = set(content_texts)
    return [int(b.text in want) for b in doc.blocks]


def labeled_block_columns(
    docs: list[Doc], labels: list[list[int]], depth: int, height: int
) -> tuple[dict, np.ndarray]:
    """``block_columns`` of a batch plus a ``label`` column, ``labels[i]``
    the per-block labels of ``docs[i]``."""
    cols, owner = block_columns(docs, depth, height)
    by_path = [dict(zip(doc.paths, y)) for doc, y in zip(docs, labels)]
    cols["label"] = np.asarray(
        [by_path[i][p] for i, p in zip(owner.tolist(), cols["path"])], dtype=np.int64
    )
    return cols, owner


def _training_pair(doc: Doc, labels: list[int], depth: int, height: int):
    cols, _ = labeled_block_columns([doc], [labels], depth, height)
    frame = pd.DataFrame(cols, columns=block_frame_columns(depth, height) + ["label"])
    return frame, frame.pop("label").to_numpy(dtype=np.int64)


def build_training_pair(
    html: str, gold_blocks: list[str], depth: int = 5, height: int = 5
):
    """(feature_frame, label_vector) for one LCS-labeled document: the
    serving kernel's block rows and their LCS labels."""
    doc = html_doc(html)
    return _training_pair(doc, lcs_labels(doc, gold_blocks), depth, height)


def build_training_pair_exact(
    html: str, content_texts: list[str], depth: int = 5, height: int = 5
):
    """(feature_frame, label_vector) where a block is positive iff its
    text is one of ``content_texts`` — exact labeling for synthetic pages
    whose ground-truth content is known by construction (no LCS needed)."""
    doc = html_doc(html)
    return _training_pair(doc, exact_labels(doc, content_texts), depth, height)


def training_rows(docs_with_gold, depth: int = 5, height: int = 5):
    """Distributed training rows: ``docs_with_gold`` (doc_id, spans,
    gold_blocks) -> one row per block-start node, ``(doc_id, features...,
    path, block stats..., label)`` with LCS labels, from one
    ``mapInPandas`` of ``labeled_block_columns`` per Arrow batch — no
    features-labels join."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from learnhtml_spark.schemas import node_features_schema

    schema = StructType(
        node_features_schema(depth, height).fields
        + [StructField(c, DoubleType()) for c in BLOCK_STAT_COLUMNS]
        + [StructField("label", LongType())]
    )
    names = schema.fieldNames()

    @python_task
    def run(batches):
        for pdf in batches:
            docs = [parse_doc(spans_list(spans)) for spans in pdf["spans"]]
            labels = [
                lcs_labels(doc, [] if gold is None else list(gold))
                for doc, gold in zip(docs, pdf["gold_blocks"])
            ]
            cols, owner = labeled_block_columns(docs, labels, depth, height)
            if len(owner):
                cols["doc_id"] = pdf["doc_id"].to_numpy(dtype=object)[owner].tolist()
                yield pd.DataFrame(cols, columns=names)

    return docs_with_gold.mapInPandas(run, schema=schema)


def training_pairs(
    docs: list[tuple[str, list[str]]],
    exact_docs: list[tuple[str, list[str]]] = (),
    depth: int = 5,
    height: int = 5,
):
    """Per-document (frames, labels) lists: LCS-labeled (html,
    gold_blocks) pairs, then exactly-labeled (html, content_texts) pairs."""
    pairs = [build_training_pair(h, g, depth, height) for h, g in docs]
    pairs += [build_training_pair_exact(h, t, depth, height) for h, t in exact_docs]
    return [f for f, _ in pairs], [y for _, y in pairs]


def train(
    docs: list[tuple[str, list[str]]],
    depth: int = 5,
    height: int = 5,
    exact_docs: list[tuple[str, list[str]]] = (),
    **fit_kw,
) -> NodeClassifier:
    """Fit the classifier on LCS-labeled (html, gold_blocks) pairs plus
    optional exactly-labeled (html, content_texts) pairs."""
    return NodeClassifier.fit(
        *training_pairs(docs, exact_docs, depth, height), **fit_kw
    )


# ---------------------------------------------------------------------------
# default training corpus (fixture pages + deterministic synthetic pages) —
# shared by scripts/train_model.py-style full training and the CLI's
# param-search surface (reference cli/script.py:117-195)
# ---------------------------------------------------------------------------

#: (html_path, corrected_path, encoding, cleaneval?) relative to
#: tests/fixtures — the reference's own public evaluation pages
FIXTURE_SPECS = [
    ("dragnet/HTML/R578.html", "dragnet/Corrected/R578.html.corrected.txt", "utf-8", False),
    ("dragnet/HTML/9.html", "dragnet/Corrected/9.html.corrected.txt", "utf-8", False),
    ("cleaneval/HTML/2.html", "cleaneval/Corrected/2.html.corrected.txt", "latin-1", True),
    ("cleaneval/HTML/1.html", "cleaneval/Corrected/1.html.corrected.txt", "latin-1", True),
]


def fixture_training_docs() -> list[tuple[str, list[str]]]:
    """(html, gold_blocks) pairs from the fixture corpus (LCS-labeled)."""
    import os

    from learnhtml_spark.kernels.tokenize import get_blocks

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fix = os.path.join(repo, "tests", "fixtures")
    out = []
    for h, c, enc, ce in FIXTURE_SPECS:
        html = open(os.path.join(fix, h), encoding=enc).read()
        gold = get_blocks(
            open(os.path.join(fix, c), encoding=enc).read(), cleaneval=ce
        )
        out.append((html, gold))
    return out


def synthetic_training_docs(
    n: int = 24, sf_dir: str | None = None
) -> list[tuple[str, list[str]]]:
    """(html, content_texts) exactly-labeled pairs synthesized from the
    first ``n`` documents of the sf0.001 documents table."""
    import os

    import duckdb

    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.spans import html_from_spans

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_TRAIN_SF_DIR", "/root/testdata/sf0.001"
    )
    con = duckdb.connect()
    rows = con.execute(
        f"select doc_id, text, lang, source from "
        f"read_parquet('{sf_dir}/documents.parquet') order by doc_id limit {n}"
    ).fetchall()
    out = []
    for doc_id, text, lang, source in rows:
        spans, expected = synthesize_page(str(doc_id), text, source, lang)
        html, _ = html_from_spans(spans)
        out.append((html, expected))
    return out


def training_frames(
    n_synth: int = 24,
    depth: int = 5,
    height: int = 5,
    sf_dir: str | None = None,
):
    """Per-document (frames, labels) lists for the default corpus — the
    grouped-CV unit the selection module consumes."""
    return training_pairs(
        fixture_training_docs(), synthetic_training_docs(n_synth, sf_dir), depth, height
    )
