"""The document kernel: the one per-document extraction loop behind every
HTML extraction surface.

    (key, spans) -> parse -> blockify -> verdict -> assemble -> rows

- **parse** (``parse_doc``): spans -> markup + boundaries, media, parsed
  tree, blocks and each block's start path (computed here, once per
  block; the model's block stats re-read the path ``getpath`` memoized).
- **verdict**: the density rules (``heuristic_block_flags``,
  jusText/boilerpipe style), per document; or the model, per batch of
  documents — per-document feature columns plus the blockifier's block
  stats (``block_columns``, the one featurizer: training fits on the same
  rows), concatenated (``concat_columns``) into ONE frame and ONE
  ``clf.predict`` for the whole batch (``predict_keep``).  No
  per-document pandas frame: its construction cost dominates the kernel
  otherwise.  The batch's parsed trees stay live until its predict
  returns, so the batch size is the model path's memory bound.  A model
  is checked against the featurizer's columns on the driver
  (``check_model_columns``) before any batch reaches it.
- **assemble** (``assemble_doc``): kept blocks + carried-through media ->
  ordered ``(kind, text, media_ref, offset)`` rows.

Keys are opaque tuples, ``doc_id`` last, that lead every output row
untouched: ``(doc_id,)`` or ``(bucket, doc_id)`` for span tables,
``(archive, uri)`` for crawl archives; a run sink ``tally``s them.

Error-row contract (``error_row``): a document whose parse, featurization
or assembly raises becomes ONE row ``key + ("error", "{Class}: {msg}"[:500],
None, -1)`` instead of failing its task; consumers filter ``kind ==
'error'`` and lineage counts them.

Callers: ``operators/extract.py`` (classifier spans, node features),
``operators/heuristic.py`` (model-free spans, the golden generator's
sequential run), ``extractor.py`` (single document),
``sources/warc_run.py`` (crawl archives, both verdicts) and
``training.py`` (training rows: ``parse_doc`` + ``block_columns`` + a
label).  This module imports nothing from ``training.py``: the block stats
(``BLOCK_STAT_COLUMNS``, ``block_stats_list``) live here.
"""

from __future__ import annotations

from collections import Counter
from itertools import chain
from typing import Iterable, NamedTuple

import numpy as np
import pandas as pd

from learnhtml_spark.htmlparse import getpath, parse_html
from learnhtml_spark.kernels.blockify import blocks_from_tree
from learnhtml_spark.kernels.features import (
    extract_features_from_tree,
    feature_columns,
)
from learnhtml_spark.spans import assemble_output, html_from_spans, media_spans

#: jusText-ish defaults: stopword lists are language-bound, so the
#: density thresholds carry the whole decision here (the corpus is
#: synthetic multi-language; length+link density are language-neutral)
MAX_LINK_DENSITY = 0.33
LONG_TOKENS = 16
SHORT_TOKENS = 3

#: block-level stats merged into block rows (Kohlschütter-style densities
#: from the blockifier — the dragnet lineage the reference builds on)
BLOCK_STAT_COLUMNS = [
    "blk_link_density",
    "blk_text_density",
    "blk_tagcount",
    "blk_tagcount_since_last_block",
    "blk_anchor_count",
    "blk_min_depth_since_last_block",
    "blk_text_len",
    "blk_position",
]


class Doc(NamedTuple):
    boundaries: list
    media: list
    root: object
    blocks: list
    paths: list


def error_text(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}"[:500]


def error_row(key: tuple, exc: BaseException) -> tuple:
    """The auditable poison row for a document (or archive) that raised."""
    return (*key, "error", error_text(exc), None, -1)


def tally(rows: list[tuple], doc_parts: Iterable) -> Counter:
    """One kernel batch's lineage counts ``{(part, 0 docs | 1 spans | 2
    errors): n}`` from rows leading with ``(part, doc_id, kind)``, ``part``
    a run's partition key; each element of ``doc_parts`` is one document."""
    counts = Counter((part, 0) for part in doc_parts)
    counts.update((part, 1 + (kind == "error")) for part, _, kind, *_ in rows)
    return counts


def spans_list(value) -> list[dict]:
    """Normalize an Arrow-transferred spans cell into a list of dicts."""
    if value is None:
        return []
    return [s if isinstance(s, dict) else s.asDict() for s in value]


def parse_doc(spans: list[dict]) -> Doc:
    html, boundaries = html_from_spans(spans)
    media = media_spans(spans)
    root = parse_html(html) if html else None
    blocks = blocks_from_tree(root, do_css=False) if root is not None else []
    paths = [getpath(b.features["block_start_element"]) for b in blocks]
    return Doc(boundaries, media, root, blocks, paths)


def html_doc(html: str) -> Doc:
    """``parse_doc`` of a page given as one html span."""
    return parse_doc([{"kind": "html", "text": html, "offset": 0}])


def heuristic_block_flags(
    blocks,
    max_link_density: float = MAX_LINK_DENSITY,
    long_tokens: int = LONG_TOKENS,
    short_tokens: int = SHORT_TOKENS,
) -> list[bool]:
    """Per-block keep verdicts in document order.

    - link density > ``max_link_density`` is boilerplate (link farms);
    - a low-link block of >= ``long_tokens`` words is content;
    - a low-link block of >= ``short_tokens`` words is *near-content*,
      kept iff an adjacent block in document order is content (headings
      and short paragraphs ride with the body they abut);
    - anything shorter is boilerplate.

    Two O(n) passes: core classification, then one neighbor smoothing
    pass — jusText's single context pass, no iteration to a fixed point.
    """
    core = []  # 'good' | 'near' | 'bad'
    for b in blocks:
        n_tokens = len(b.text.split())
        if b.link_density > max_link_density or n_tokens < short_tokens:
            core.append("bad")
        elif n_tokens >= long_tokens:
            core.append("good")
        else:
            core.append("near")
    out = []
    for i, c in enumerate(core):
        if c == "good":
            out.append(True)
        elif c == "near":
            out.append(
                (i > 0 and core[i - 1] == "good")
                or (i + 1 < len(core) and core[i + 1] == "good")
            )
        else:
            out.append(False)
    return out


def concat_columns(col_dicts: list[dict], names: list[str]) -> dict:
    """Row-concatenate per-document column dicts (arrays or lists)."""
    merged = {}
    for k in names:
        if isinstance(col_dicts[0][k], np.ndarray):
            merged[k] = np.concatenate([d[k] for d in col_dicts])
        else:
            merged[k] = list(chain.from_iterable(d[k] for d in col_dicts))
    return merged


def block_stats_list(blocks) -> dict[str, list[float]]:
    """Per block-start-path stats (``BLOCK_STAT_COLUMNS`` order) for a
    block list."""
    stats = {}
    for k, b in enumerate(blocks):
        path = getpath(b.features["block_start_element"])
        f = b.features
        stats[path] = [
            b.link_density,
            b.text_density,
            float(f["tagcount"]),
            float(f["tagcount_since_last_block"]),
            float(f["anchor_count"]),
            float(f["min_depth_since_last_block"]),
            float(len(b.text)),
            k / max(len(blocks) - 1, 1),
        ]
    return stats


def block_frame_columns(depth: int, height: int) -> list[str]:
    """``block_columns``' keys in frame order: the tree features (``path``
    last), then the block stats."""
    return feature_columns(depth, height) + BLOCK_STAT_COLUMNS


def block_columns(doc: Doc, depth: int, height: int) -> dict | None:
    """Model input columns for the document's block-start nodes: tree
    features plus the blockifier's per-block stats (None without blocks).
    The one featurizer: serving predicts on these rows, and training
    (``training.py``, serial and distributed) fits on them plus a label."""
    if not doc.blocks:
        return None
    starts = {id(b.features["block_start_element"]) for b in doc.blocks}
    d = extract_features_from_tree(
        doc.root, depth, height, select_nodes=starts, as_columns=True
    )
    stats = block_stats_list(doc.blocks)
    zeros = [0.0] * len(BLOCK_STAT_COLUMNS)
    for name, vals in zip(
        BLOCK_STAT_COLUMNS, zip(*(stats.get(p) or zeros for p in d["path"]))
    ):
        d[name] = np.asarray(vals, dtype=np.float64)
    return d


def predict_keep(
    clf, docs: list[Doc], cols: list[dict | None], depth: int, height: int
) -> list[list[bool]]:
    """Per-document keep flags from ONE ``clf.predict`` over every block
    row of the batch; ``cols[i]`` is None for a document without blocks."""
    present = [c for c in cols if c is not None]
    positive = [set() for _ in cols]
    if present:
        names = block_frame_columns(depth, height)
        merged = concat_columns(present, names)
        pred = np.asarray(
            clf.predict(pd.DataFrame(merged, columns=names)), dtype=bool
        )
        owners = np.repeat(
            [i for i, c in enumerate(cols) if c is not None],
            [len(c["path"]) for c in present],
        )
        for i, p in zip(
            owners[pred], np.asarray(merged["path"], dtype=object)[pred]
        ):
            positive[i].add(p)
    return [[p in pos for p in doc.paths] for doc, pos in zip(docs, positive)]


class ModelColumnsError(ValueError):
    """A model's input columns differ from the block featurizer's."""


def check_model_columns(clf, depth: int = 5, height: int = 5) -> None:
    """Raise ``ModelColumnsError`` unless ``clf.input_columns()`` are
    exactly the columns ``block_columns`` gives at this window (for a
    nameless artifact: the numeric width of a one-block page's columns)."""
    have = [c for c in block_frame_columns(depth, height) if c != "path"]
    want = clf.input_columns()
    window = f"the block featurizer at depth={depth}, height={height}"
    if isinstance(want, int):
        probe = block_columns(html_doc("<p>x</p>"), depth, height)
        width = sum(isinstance(probe[c], np.ndarray) for c in have)
        if want != width:
            raise ModelColumnsError(
                f"nameless model reads {want} numeric columns; {window} "
                f"gives {width}")
        return
    missing = sorted(set(want) - set(have))
    extra = sorted(set(have) - set(want))
    if missing or extra:
        raise ModelColumnsError(
            f"model input columns do not match {window}: the featurizer "
            f"lacks {missing}, the model was not fit on {extra}")


def assemble_doc(key: tuple, doc: Doc, keep: list[bool]) -> list[tuple]:
    content = [
        (b.text, b.features["block_start_element"].srcpos)
        for b, k in zip(doc.blocks, keep)
        if k
    ]
    *prefix, doc_id = key
    rows = assemble_output(doc_id, content, doc.boundaries, doc.media)
    return [(*prefix, *r) for r in rows] if prefix else rows


def extract_rows(
    docs: Iterable[tuple[tuple, list]], clf=None, depth: int = 5, height: int = 5
) -> list[tuple]:
    """One batch of ``(key, spans)`` documents -> output rows
    ``key + (kind, text, media_ref, offset)``, error rows included.

    ``clf`` None selects the density rules, which assemble each document
    as soon as it is judged, so no parsed tree outlives its document; a
    classifier selects the model verdict with one predict call for the
    whole batch, which keeps the batch's trees live until it returns."""
    rows, keys, parsed, verdicts = [], [], [], []
    for key, spans in docs:
        try:
            doc = parse_doc(spans_list(spans))
            if clf is None:
                rows.extend(assemble_doc(key, doc, heuristic_block_flags(doc.blocks)))
                continue
            verdict = block_columns(doc, depth, height)
        except Exception as exc:  # noqa: BLE001 — per-document isolation
            rows.append(error_row(key, exc))
            continue
        keys.append(key)
        parsed.append(doc)
        verdicts.append(verdict)
    if clf is not None:
        verdicts = predict_keep(clf, parsed, verdicts, depth, height)
    for key, doc, keep in zip(keys, parsed, verdicts):
        try:
            rows.extend(assemble_doc(key, doc, keep))
        except Exception as exc:  # noqa: BLE001
            rows.append(error_row(key, exc))
    return rows
