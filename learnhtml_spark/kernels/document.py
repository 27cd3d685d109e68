"""The document kernel: the one extraction kernel behind every HTML
extraction surface, run over a batch of documents (an Arrow batch).

    (key, spans) -> parse -> blockify -> verdict -> assemble -> rows

- **parse** (``parse_doc``): spans -> markup + boundaries, media, parsed
  tree, blocks and each block's start path (computed here, once per
  block; the model's block stats re-read the path ``getpath`` memoized).
- **verdict**: the density rules (``heuristic_block_flags``), per
  document; or the model: ONE feature pass over the node table of the
  batch's trees plus the block stats (``block_columns``, the one
  featurizer: training fits on the same rows) and ONE ``clf.predict``
  (``predict_keep``).  The batch's trees stay live until its predict
  returns, so the batch size is the model path's memory bound.  A model
  is checked against the featurizer's columns on the driver
  (``check_model_columns``) before any batch reaches it.
- **assemble** (``assemble_doc``): kept blocks + carried-through media ->
  ordered ``(kind, text, media_ref, offset)`` rows; the tree is then cut
  free of cycles (``release``): ``extract_rows`` holds the cyclic
  collector off for the batch.

Keys are opaque tuples, ``doc_id`` last, that lead every output row
untouched: ``(doc_id,)`` or ``(bucket, doc_id)`` for span tables,
``(archive, uri)`` for crawl archives; a run sink ``tally``s them.

Error-row contract (``error_row``): a document whose parse, featurization
or assembly raises becomes ONE row ``key + ("error", "{Class}: {msg}"[:500],
None, -1)`` instead of failing its task (a raising batch featurization is
retried per document to find it); consumers filter ``kind == 'error'`` and
lineage counts them.

Callers: ``operators/extract.py`` (classifier spans),
``operators/heuristic.py`` (model-free spans, the golden generator's
sequential run), ``extractor.py`` (a batch of one), ``sources/warc_run.py``
(crawl archives, both verdicts) and ``training.py`` (training rows:
``parse_doc`` + ``block_columns`` + a label).  This module imports nothing
from ``training.py``: the block stats (``BLOCK_STAT_COLUMNS``,
``block_stats_list``) live here.
"""

from __future__ import annotations

import gc
import sys
import zipimport
from collections import Counter
from typing import Callable, Iterable, Iterator, NamedTuple

import numpy as np
import pandas as pd

from learnhtml_spark.htmlparse import getpath, parse_html
from learnhtml_spark.kernels.blockify import blocks_from_tree
from learnhtml_spark.kernels.features import (
    extract_features_from_trees,
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


def drop_zip_importers() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``; a task
    body calls it first, through ``python_task``.

    A PySpark worker runs ``importlib.invalidate_caches()`` before each
    task, and on CPython 3.11 every cached ``zipimporter`` then re-reads
    its archive's whole directory: ``pyspark.zip`` and its sub-package
    importers, py4j's zip and the spark-core jar, 160–330 ms per task.
    ``sys.path`` stays as it is (the worker imports pyspark from those
    zips): a later import recreates its importer from zipimport's
    directory cache without reading the archive."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def python_task(run: Callable[[Iterator], Iterator]) -> Callable[[Iterator], Iterator]:
    """``run``, a ``mapInPandas`` body (batches in, batches out), behind
    ``drop_zip_importers``: every Python task body goes through this
    wrapper, so none pays the worker's per-task archive re-reads.

    ``mapInPandas`` bodies only: Spark dispatches a grouped body
    (``applyInPandas``) on its argument count, which the wrapper hides."""

    def task(batches: Iterator) -> Iterator:
        drop_zip_importers()
        return run(batches)

    return task


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


def block_columns(docs: list[Doc], depth: int, height: int) -> tuple[dict, np.ndarray]:
    """``(columns, owner)``: model input columns for the block-start nodes
    of a batch, tree features plus the blockifier's per-block stats, and the
    index into ``docs`` of each row (a document without blocks has none).
    The one featurizer: serving predicts on these rows, and training
    (``training.py``, serial and distributed) fits on them plus a label."""
    have = [i for i, doc in enumerate(docs) if doc.blocks]
    starts = {id(b.features["block_start_element"]) for i in have for b in docs[i].blocks}
    cols, owner = extract_features_from_trees(
        [docs[i].root for i in have], depth, height, select_nodes=starts)
    owner = np.asarray(have, dtype=np.int64)[owner]
    stats = {i: block_stats_list(docs[i].blocks) for i in have}
    zeros = [0.0] * len(BLOCK_STAT_COLUMNS)
    vals = np.asarray(
        [stats[i].get(p) or zeros for i, p in zip(owner.tolist(), cols["path"])],
        dtype=np.float64,
    ).reshape(-1, len(BLOCK_STAT_COLUMNS))
    for name, col in zip(BLOCK_STAT_COLUMNS, np.ascontiguousarray(vals.T)):
        cols[name] = col
    return cols, owner


def predict_keep(
    clf, docs: list[Doc], cols: dict, owner: np.ndarray, depth: int, height: int
) -> list[list[bool]]:
    """Per-document keep flags from ONE ``clf.predict`` over the batch's
    block rows ``(cols, owner)``, ``block_columns(docs, depth, height)``."""
    positive = [set() for _ in docs]
    if len(owner):
        names = block_frame_columns(depth, height)
        pred = np.asarray(clf.predict(pd.DataFrame(cols, columns=names)), dtype=bool)
        paths = np.asarray(cols["path"], dtype=object)[pred]
        for i, p in zip(owner[pred].tolist(), paths):
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
        probe, _ = block_columns([html_doc("<p>x</p>")], depth, height)
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


def release(doc: Doc) -> None:
    """Drop the parent links of a document's parsed tree once its rows are
    assembled: the tree is then free of reference cycles, and refcounting
    frees it while ``extract_rows`` holds the cyclic collector off."""
    if doc.root is not None:
        for node in doc.root.iter():
            node._parent = None


def extract_rows(
    docs: Iterable[tuple[tuple, list]], clf=None, depth: int = 5, height: int = 5
) -> list[tuple]:
    """One batch of ``(key, spans)`` documents -> output rows
    ``key + (kind, text, media_ref, offset)``, error rows included.

    ``clf`` None selects the density rules, which assemble each document
    as soon as it is judged; a classifier selects the model verdict with
    one feature pass and one predict call for the whole batch, which keeps
    the batch's trees live until it returns.  The cyclic garbage collector
    is off for the call (the caller's setting is restored on return or
    raise): the parsed trees are its only cyclic garbage, and each tree's
    cycles are cut (``release``) once its document's rows are assembled."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        return _extract_rows(docs, clf, depth, height)
    finally:
        if enabled:
            gc.enable()


def _extract_rows(docs, clf, depth: int, height: int) -> list[tuple]:
    rows, keys, parsed = [], [], []
    for key, spans in docs:
        try:
            doc = parse_doc(spans_list(spans))
            if clf is None:
                rows.extend(assemble_doc(key, doc, heuristic_block_flags(doc.blocks)))
                release(doc)
                continue
        except Exception as exc:  # noqa: BLE001 — per-document isolation
            rows.append(error_row(key, exc))
            continue
        keys.append(key)
        parsed.append(doc)
    if not parsed:
        return rows
    try:
        cols = block_columns(parsed, depth, height)
    except Exception:  # noqa: BLE001 — find the documents whose features raise
        ok = []
        for key, doc in zip(keys, parsed):
            try:
                block_columns([doc], depth, height)
                ok.append((key, doc))
            except Exception as exc:  # noqa: BLE001
                rows.append(error_row(key, exc))
        keys, parsed = [k for k, _ in ok], [d for _, d in ok]
        cols = block_columns(parsed, depth, height)
    verdicts = predict_keep(clf, parsed, *cols, depth, height)
    for key, doc, keep in zip(keys, parsed, verdicts):
        try:
            rows.extend(assemble_doc(key, doc, keep))
        except Exception as exc:  # noqa: BLE001
            rows.append(error_row(key, exc))
        release(doc)
    return rows
