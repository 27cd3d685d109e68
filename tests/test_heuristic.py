"""Heuristic (model-free) DOM extraction: rule unit tests, distributed ==
sequential equality, and freshness of the committed golden parquet that
backs the driver oracle for `heuristic_spans`."""

import os
import sys

sys.path.insert(0, os.path.dirname(__file__))

from collections import defaultdict
from types import SimpleNamespace

import pandas as pd

from learnhtml_spark.kernels.document import LONG_TOKENS, heuristic_block_flags
from learnhtml_spark.operators.heuristic import (
    extract_spans_heuristic_doc,
    heuristic_extract_spans,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLD = os.path.join(REPO, "learnhtml_spark", "artifacts", "goldens")


def _blk(text, link_density=0.0):
    return SimpleNamespace(text=text, link_density=link_density)


LONG = " ".join(["word"] * LONG_TOKENS)


def test_rules_core():
    blocks = [
        _blk(LONG),                       # long low-link -> good
        _blk(LONG, link_density=0.9),     # link farm -> bad regardless of len
        _blk("hi"),                       # < short_tokens -> bad
        _blk("a short heading here"),     # near, no good neighbor -> bad
    ]
    assert heuristic_block_flags(blocks) == [True, False, False, False]


def test_rules_context_smoothing():
    # near-content rides with an adjacent good block, either side
    blocks = [_blk("short heading one"), _blk(LONG), _blk("short trailer two")]
    assert heuristic_block_flags(blocks) == [True, True, True]
    # but not through a bad block in between
    blocks = [_blk("short heading one"), _blk("nav nav", 1.0), _blk(LONG)]
    assert heuristic_block_flags(blocks) == [False, False, True]
    # and near does not chain off another near
    blocks = [_blk("short heading one"), _blk("short heading two")]
    assert heuristic_block_flags(blocks) == [False, False]


def test_distributed_equals_sequential(spark):
    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.operators.extract import docs_from_pairs

    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet").head(12)
    pairs, want = [], []
    for d, t, l, s in zip(docs["doc_id"], docs["text"], docs["lang"], docs["source"]):
        spans, _ = synthesize_page(str(d), t, s, l)
        pairs.append((str(d), spans))
        want.extend(extract_spans_heuristic_doc(str(d), spans))
    df = docs_from_pairs(spark, pairs).repartition(8)
    rows = heuristic_extract_spans(df).orderBy("doc_id", "offset").collect()
    got = [(r.doc_id, r.kind, r.text, r.media_ref, r.offset) for r in rows]
    assert got == sorted(want, key=lambda r: (r[0], r[4]))
    # sanity: the heuristic actually keeps some text on this corpus
    assert any(k == "text" for _, k, _, _, _ in got)


def test_empty_and_media_only(spark):
    from learnhtml_spark.operators.extract import docs_from_pairs

    pairs = [
        ("empty", []),
        ("media_only", [{"kind": "media", "text": "", "media_ref": "m:a", "offset": 0}]),
        ("blank_html", [{"kind": "html", "text": "<html></html>", "media_ref": None, "offset": 0}]),
    ]
    rows = heuristic_extract_spans(docs_from_pairs(spark, pairs)).collect()
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    assert by_doc["empty"] == []
    assert [r.kind for r in by_doc["media_only"]] == ["media"]
    assert by_doc["blank_html"] == []


def test_heuristic_golden_fresh():
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_goldens import row_key

    from learnhtml_spark.corpus import synthesize_page

    docs = pd.read_parquet("/root/testdata/sf0.01/documents.parquet").head(8)
    gold = pd.read_parquet(os.path.join(GOLD, "heuristic.parquet"))
    for d, t, l, s in zip(docs["doc_id"], docs["text"], docs["lang"], docs["source"]):
        key = row_key(d, l, s, t)
        spans, _ = synthesize_page(str(d), t, s, l)
        fresh = extract_spans_heuristic_doc(str(d), spans)
        g = gold[gold["row_key"] == key].sort_values("offset")
        have = [
            (r.doc_id, r.kind, r.text,
             r.media_ref if pd.notna(r.media_ref) else None, r.offset)
            for r in g.itertuples()
        ]
        assert have == [tuple(r) for r in fresh], d
