"""Single-process kernel ledger: the fused extraction kernel's phases,
timed one public function at a time.

``run_kernel`` walks a list of (doc_id, spans) documents in Arrow-batch
sized groups through the same calls, in the same order, as the
``extract_content_spans`` map stage, and charges each call's wall time to
its module's phase.  The returned rows equal the operator's output rows,
which the benchmark checks, so the ledger times the work the engine does.
"""

from __future__ import annotations

import time
from itertools import chain

import numpy as np
import pandas as pd

PHASES = (
    "spans.html_from_spans",
    "htmlparse.parse_html",
    "kernels.blockify",
    "kernels.features",
    "training.block_stats",
    "model.predict",
    "spans.assemble_output",
)


def run_kernel(docs, clf, batch_size: int, depth: int = 5, height: int = 5):
    """-> (rows, {phase: seconds}, counts) over ``docs`` = [(doc_id, spans)]."""
    from learnhtml_spark.htmlparse import getpath, parse_html
    from learnhtml_spark.kernels.blockify import blocks_from_tree
    from learnhtml_spark.kernels.features import (
        extract_features_from_tree,
        feature_columns,
    )
    from learnhtml_spark.spans import assemble_output, html_from_spans, media_spans
    from learnhtml_spark.training import BLOCK_STAT_COLUMNS, block_stats_list

    clock = time.perf_counter
    t = dict.fromkeys(PHASES, 0.0)
    counts = {"docs": 0, "html_bytes": 0, "blocks": 0, "kept": 0, "error_rows": 0}
    feat_cols = feature_columns(depth, height)
    rows = []
    for lo in range(0, len(docs), batch_size):
        parsed, col_dicts, doc_keys, errors = [], [], [], []
        for doc_id, spans in docs[lo: lo + batch_size]:
            counts["docs"] += 1
            try:
                c0 = clock()
                html, boundaries = html_from_spans(spans)
                media = media_spans(spans)
                c1 = clock()
                root = parse_html(html) if html else None
                c2 = clock()
                blocks = blocks_from_tree(root, do_css=False) if root is not None else []
                paths = [getpath(b.features["block_start_element"]) for b in blocks]
                c3 = clock()
                t["spans.html_from_spans"] += c1 - c0
                t["htmlparse.parse_html"] += c2 - c1
                t["kernels.blockify"] += c3 - c2
                counts["html_bytes"] += len(html)
                counts["blocks"] += len(blocks)
                if blocks:
                    starts = {id(b.features["block_start_element"]) for b in blocks}
                    d = extract_features_from_tree(
                        root, depth, height, select_nodes=starts, as_columns=True
                    )
                    c4 = clock()
                    stats = block_stats_list(blocks)
                    zeros = [0.0] * len(BLOCK_STAT_COLUMNS)
                    for name, vals in zip(
                        BLOCK_STAT_COLUMNS,
                        zip(*(stats.get(p, None) or zeros for p in d["path"])),
                    ):
                        d[name] = np.asarray(vals, dtype=np.float64)
                    c5 = clock()
                    t["kernels.features"] += c4 - c3
                    t["training.block_stats"] += c5 - c4
                    col_dicts.append(d)
                    doc_keys.extend([doc_id] * len(d["path"]))
                parsed.append((doc_id, blocks, paths, boundaries, media))
            except Exception as exc:  # noqa: BLE001 — the operator's error-row policy
                errors.append(
                    (doc_id, "error", f"{type(exc).__name__}: {exc}"[:500], None, -1)
                )
        c0 = clock()
        positive: dict = {}
        if col_dicts:
            merged = {}
            for k in feat_cols + BLOCK_STAT_COLUMNS:
                if isinstance(col_dicts[0][k], np.ndarray):
                    merged[k] = np.concatenate([d[k] for d in col_dicts])
                else:
                    merged[k] = list(chain.from_iterable(d[k] for d in col_dicts))
            frame = pd.DataFrame(merged, columns=feat_cols + BLOCK_STAT_COLUMNS)
            pred = np.asarray(clf.predict(frame), dtype=bool)
            for d, p in zip(np.asarray(doc_keys, dtype=object)[pred],
                            np.asarray(merged["path"], dtype=object)[pred]):
                positive.setdefault(d, set()).add(p)
        c1 = clock()
        t["model.predict"] += c1 - c0
        rows.extend(errors)
        counts["error_rows"] += len(errors)
        for doc_id, blocks, paths, boundaries, media in parsed:
            pos = positive.get(doc_id, set())
            content = [(b.text, b.features["block_start_element"].srcpos)
                       for b, p in zip(blocks, paths) if p in pos]
            counts["kept"] += len(content)
            rows.extend(assemble_output(doc_id, content, boundaries, media))
        t["spans.assemble_output"] += clock() - c1
    return rows, t, counts


def ledger_metrics(t: dict, counts: dict) -> dict:
    """Per-doc phase times (ms) and kernel counts, keyed by metric name."""
    n = max(counts["docs"], 1)
    ms = {p: 1000.0 * s / n for p, s in t.items()}
    return {
        "spans.html_from_spans_ms_per_doc": ms["spans.html_from_spans"],
        "htmlparse.parse_html_ms_per_doc": ms["htmlparse.parse_html"],
        "kernels.blockify_ms_per_doc": ms["kernels.blockify"],
        "kernels.features_ms_per_doc": ms["kernels.features"],
        "training.block_stats_ms_per_doc": ms["training.block_stats"],
        "model.predict_ms_per_doc": ms["model.predict"],
        "spans.assemble_output_ms_per_doc": ms["spans.assemble_output"],
        "kernel.total_ms_per_doc": sum(ms.values()),
        "kernel.html_kb_per_doc": counts["html_bytes"] / 1024.0 / n,
        "kernel.blocks_per_doc": counts["blocks"] / n,
        "kernel.kept_frac": counts["kept"] / max(counts["blocks"], 1),
        "kernel.error_rows": counts["error_rows"],
    }
