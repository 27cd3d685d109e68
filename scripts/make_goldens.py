"""Materialize driver-verifiable golden parquet for the three DOM queries.

The flagship pipeline (extract_spans / node_features / label_ratios) is not
SQL-expressible, so its DuckDB oracle is a JOIN against pre-materialized
ground truth:

- ``spans``: generator-anchored — `corpus.expected_extraction` knows each
  synthetic page's content paragraphs exactly (the generator wrote them),
  located via the blockifier only, never via the model.  That the trained
  model reproduces this is precisely what the oracle then attests.
- ``features`` / ``labels``: single-process reference execution of the same
  pure kernels the Spark mapInPandas stages call — attests that distributed
  execution (Arrow transfer, batching, partitioning) is value-identical to
  the sequential reference run.

Every row carries ``row_key = md5(doc_id:lang:source:text)`` so one golden
file serves any sf directory: the oracle joins on the key recomputed from
the driver's ``documents`` view, making the golden self-selecting and
collision-safe across scale factors.

Run: python scripts/make_goldens.py  (writes learnhtml_spark/artifacts/goldens/)
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
OUT_DIR = os.path.join(REPO, "learnhtml_spark", "artifacts", "goldens")
DEPTH = HEIGHT = 2  # matches q_node_features


def row_key(doc_id, lang, source, text) -> str:
    return hashlib.md5(
        f"{doc_id}:{lang}:{source}:{text}".encode("utf-8")
    ).hexdigest()


def main() -> None:
    from learnhtml_spark.corpus import expected_page_rows, synthesize_page
    from learnhtml_spark.htmlparse import parse_html
    from learnhtml_spark.kernels.features import extract_features_from_tree
    from learnhtml_spark.kernels.labeling import (
        NON_CONTENT_BLOCK_RATIO,
        get_ratios_per_html,
    )
    from learnhtml_spark.schemas import node_features_schema
    from learnhtml_spark.spans import html_from_spans

    feat_names = node_features_schema(DEPTH, HEIGHT).fieldNames()

    from learnhtml_spark.operators.heuristic import extract_spans_heuristic_doc

    span_rows: list[tuple] = []
    heuristic_rows: list[tuple] = []
    feat_frames: list[pd.DataFrame] = []
    label_rows: list[tuple] = []
    seen: set[str] = set()

    for sf_dir in SF_DIRS:
        docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        for doc_id, text, lang, source in zip(
            docs["doc_id"], docs["text"], docs["lang"], docs["source"]
        ):
            key = row_key(doc_id, lang, source, text)
            if key in seen:  # identical doc in a smaller sf dir
                continue
            seen.add(key)
            doc_id = str(doc_id)
            spans, expected = synthesize_page(doc_id, text, source, lang)
            html, _ = html_from_spans(spans)
            root = parse_html(html)

            # 1. extract_spans ground truth (generator-anchored)
            for r in expected_page_rows(doc_id, spans, expected):
                span_rows.append((key,) + tuple(r))

            # 1b. heuristic_spans reference run (sequential execution of
            # the exact kernel the Spark operator calls; the oracle
            # attests distributed == sequential)
            for r in extract_spans_heuristic_doc(doc_id, spans):
                heuristic_rows.append((key,) + tuple(r))

            # 2. node_features reference run (same kernel, sequential)
            f = extract_features_from_tree(root, DEPTH, HEIGHT)
            f.insert(0, "doc_id", doc_id)
            f = f[[c for c in feat_names]]
            f.insert(0, "row_key", key)
            feat_frames.append(f)

            # 3. label_ratios reference run
            for path, ratio, btext in get_ratios_per_html(html, expected):
                label_rows.append(
                    (
                        key,
                        doc_id,
                        path,
                        bool(ratio > 0.1),
                        float(ratio),
                        bool(ratio != NON_CONTENT_BLOCK_RATIO),
                        btext,
                    )
                )

    os.makedirs(OUT_DIR, exist_ok=True)

    spans_df = pd.DataFrame(
        span_rows,
        columns=["row_key", "doc_id", "kind", "text", "media_ref", "offset"],
    )
    spans_df["offset"] = spans_df["offset"].astype(np.int32)
    spans_df.to_parquet(os.path.join(OUT_DIR, "spans.parquet"), index=False)

    heur_df = pd.DataFrame(
        heuristic_rows,
        columns=["row_key", "doc_id", "kind", "text", "media_ref", "offset"],
    )
    heur_df["offset"] = heur_df["offset"].astype(np.int32)
    heur_df.to_parquet(os.path.join(OUT_DIR, "heuristic.parquet"), index=False)

    feats_df = pd.concat(feat_frames, ignore_index=True)
    feats_df.to_parquet(os.path.join(OUT_DIR, "features.parquet"), index=False)

    labels_df = pd.DataFrame(
        label_rows,
        columns=[
            "row_key",
            "doc_id",
            "node_path",
            "content_label",
            "ratio",
            "is_extracted_block",
            "block_text",
        ],
    )
    labels_df.to_parquet(os.path.join(OUT_DIR, "labels.parquet"), index=False)

    print(
        f"goldens: {len(seen)} docs -> spans {len(spans_df)}, "
        f"features {len(feats_df)}, labels {len(labels_df)} rows -> {OUT_DIR}"
    )


if __name__ == "__main__":
    main()
