"""Per-node DOM feature extraction (the reference's feature semantics).

Produces, for every node of a document (comments and PIs included), the
reference's feature frame (learnhtml/features.py):

- 10 local features: depth, sibling_pos, tag, no_classes, id_len,
  class_len, no_children, text_len, class_text, id_text
  (features.py:117-139; tag of a comment/PI node is 'html_comment',
  features.py:28-29; text_len is the subtree text length, 0 for
  comments/PIs, features.py:32-40)
- descendant aggregates per level 1..depth: no_nodes, *_avg, and the
  comma-joined classes/ids/tags strings (features.py:152-183,225-257).
  NB the reference joins each descendant's class string with
  ``' '.join(str)`` — i.e. characters space-interleaved; that quirk is
  part of the golden contract and replicated here.
- ancestor features per level 1..height, zero/empty padded
  (features.py:107-114,196-223).
- the node's XPath as ``path``.

The unit of work is a batch of trees (an Arrow batch's documents), not a
document: ``node_table`` flattens the trees into one table of per-node
arrays with a sentinel "no node" row, and ``extract_features_from_trees``
computes every column over it with numpy — ancestor level h is the parent
index gathered h times, descendant level l a ``np.bincount`` into each
node's level-l ancestor's output row.  Python runs once per node to read
the tree and once per output row for the path and the joined strings.
``extract_features_from_tree`` is the one-tree call of the same function.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

from learnhtml_spark.htmlparse import Element, getpath, parse_html

LOCAL_COLUMNS = [
    "depth",
    "sibling_pos",
    "tag",
    "no_classes",
    "id_len",
    "class_len",
    "no_children",
    "text_len",
    "class_text",
    "id_text",
]

DESCENDANT_FEATURES = [
    "no_nodes",
    "no_children_avg",
    "id_len_avg",
    "no_classes_avg",
    "class_len_avg",
    "text_len_avg",
    "classes",
    "ids",
    "tags",
]

def ancestor_columns(height: int) -> list[str]:
    return [
        f"ancestor{i}_{name}"
        for i in range(1, height + 1)
        for name in LOCAL_COLUMNS
    ]


def descendant_columns(depth: int) -> list[str]:
    return [
        f"descendant{i}_{name}"
        for i in range(1, depth + 1)
        for name in DESCENDANT_FEATURES
    ]


def feature_columns(depth: int, height: int) -> list[str]:
    """Full column list in the reference's concatenation order
    (local, descendant, ancestor, path)."""
    return (
        LOCAL_COLUMNS + descendant_columns(depth) + ancestor_columns(height) + ["path"]
    )


class NodeTable(NamedTuple):
    """One row per node of a list of trees (trees in order, each in
    document order) plus a last sentinel row ``n``, "no node": each root's
    parent, its own parent, and a missing ancestor's 0/``""`` padding."""

    nodes: list  # the Element of each row
    owner: np.ndarray  # (n,) index of the row's tree
    parent: np.ndarray  # (n + 1,) parent row
    local: dict  # LOCAL_COLUMNS over the n + 1 rows; strings as object arrays
    spaced_class: np.ndarray  # (n + 1,) class text, characters space-interleaved


def node_table(roots: list[Element]) -> NodeTable:
    """Flatten parsed trees into one ``NodeTable``; the subtree text
    length is a prefix sum over the pre-order rows."""
    nodes: list = []
    sizes = []
    for root in roots:
        before = len(nodes)
        nodes.extend(root.iter())
        sizes.append(len(nodes) - before)
    n = len(nodes)
    row = {id(node): i for i, node in enumerate(nodes)}
    par = [row.get(id(node._parent), n) for node in nodes] + [n]
    # pre-order puts a parent before its children: depth and sibling
    # position in one forward pass, subtree size in one backward pass
    dep = [0] * (n + 1)
    sib = [0] * (n + 1)
    seen = [0] * (n + 1)
    for i in range(n):
        p = par[i]
        dep[i] = dep[p] + 1
        sib[i] = seen[p]
        seen[p] += 1
    size = [1] * n + [0]
    for i in range(n - 1, -1, -1):
        size[par[i]] += size[i]
    parent = np.asarray(par, dtype=np.int64)
    sibling_pos = np.asarray(sib, dtype=np.int64)
    sibling_pos[parent == n] = 0  # roots: the sentinel is no parent

    tags = [node.tag for node in nodes]
    is_el = [isinstance(t, str) for t in tags]
    tag = [t if e else "html_comment" for t, e in zip(tags, is_el)]
    class_text = [
        node.attrib.get("class", "") if e else "" for node, e in zip(nodes, is_el)
    ]
    id_text = [node.attrib.get("id", "") if e else "" for node, e in zip(nodes, is_el)]
    # an element's subtree text: the text of every element in it and the
    # tail of every node in it but its own (comment/PI text is excluded,
    # their tails count: lxml's itertext)
    el = np.asarray(is_el, dtype=bool)
    text = np.asarray([len(node.text or "") for node in nodes], dtype=np.int64)
    tail = np.asarray([len(node.tail or "") for node in nodes], dtype=np.int64)
    csum = np.concatenate([[0], np.cumsum(np.where(el, text, 0) + tail)])
    first = np.arange(n)
    end = first + np.asarray(size[:n], dtype=np.int64)
    text_len = np.where(el, csum[end] - csum[first] - tail, 0)

    def ints(values) -> np.ndarray:
        return np.append(np.asarray(values, dtype=np.int64), 0)

    def strs(values) -> np.ndarray:
        out = np.empty(n + 1, dtype=object)
        out[:n] = values
        out[n] = ""
        return out

    local = {
        "depth": np.asarray(dep, dtype=np.int64),
        "sibling_pos": sibling_pos,
        "tag": strs(tag),
        "no_classes": ints([len(c.split()) if c else 0 for c in class_text]),
        "id_len": ints([len(s) for s in id_text]),
        "class_len": ints([len(c) for c in class_text]),
        "no_children": ints([len(node._children) for node in nodes]),
        "text_len": np.append(text_len, 0),
        "class_text": strs(class_text),
        "id_text": strs(id_text),
    }
    # reference quirk: a descendant's classes join as ' '.join(class_str)
    spaced = strs([" ".join(c) if c else "" for c in class_text])
    owner = np.repeat(np.arange(len(roots), dtype=np.int64), sizes)
    return NodeTable(nodes, owner, parent, local, spaced)


#: descendant averages: (output name, local column summed)
_AVERAGED = (
    ("no_children_avg", "no_children"),
    ("id_len_avg", "id_len"),
    ("no_classes_avg", "no_classes"),
    ("class_len_avg", "class_len"),
    ("text_len_avg", "text_len"),
)


def _joined(pieces: np.ndarray, order: np.ndarray, ends: list[int]) -> list[str]:
    """Comma-join ``pieces[order]`` over consecutive runs ending at ``ends``."""
    parts = pieces[order].tolist()
    return [",".join(parts[lo:hi]) for lo, hi in zip([0] + ends, ends)]


def extract_features_from_trees(
    roots: list[Element], depth: int, height: int, select_nodes=None
) -> tuple[dict, np.ndarray]:
    """Feature columns for the nodes of parsed trees, one batch: ``(columns,
    owner)``, rows in tree order and document order within a tree, ``owner``
    the index into ``roots`` of each row's tree.

    ``select_nodes`` (optional set of Element identities, ``id(el)``)
    restricts the OUTPUT rows (e.g. block-start nodes only for the serving
    path) — every feature is still computed over the whole trees, so values
    are identical to the full frame.  Numeric columns are int64/float64
    arrays, string columns lists."""
    t = node_table(roots)
    n = len(t.nodes)
    kept = np.arange(n) if select_nodes is None else np.flatnonzero(
        np.fromiter((id(x) in select_nodes for x in t.nodes), dtype=bool, count=n))
    nk = len(kept)
    data = {}
    for name, col in t.local.items():
        data[name] = col[kept] if col.dtype != object else col[kept].tolist()

    # the level-h ancestor of every row, h = 1.., the sentinel when none
    ancestors = [t.parent]
    for _ in range(max(depth, height) - 1):
        ancestors.append(t.parent[ancestors[-1]])

    # descendant level l of a kept row: the nodes whose level-l ancestor it
    # is; their integer sums are exact in float64, so every average is the
    # per-node accumulation's, and the strings join in document order
    out_row = np.full(n + 1, nk, dtype=np.int64)
    out_row[kept] = np.arange(nk)
    for lvl in range(depth):
        pre = f"descendant{lvl + 1}_"
        target = out_row[ancestors[lvl][:n]]
        counts = np.bincount(target, minlength=nk + 1)[:nk]
        data[pre + "no_nodes"] = counts
        for name, src in _AVERAGED:
            sums = np.bincount(target, weights=t.local[src][:n], minlength=nk + 1)[:nk]
            data[pre + name] = np.divide(sums, counts, out=np.zeros(nk), where=counts > 0)
        order = np.argsort(target, kind="stable")[: counts.sum()]
        ends = np.cumsum(counts).tolist()
        data[pre + "classes"] = _joined(t.spaced_class, order, ends)
        data[pre + "ids"] = _joined(t.local["id_text"], order, ends)
        data[pre + "tags"] = _joined(t.local["tag"], order, ends)

    for h in range(height):
        up = ancestors[h][kept]
        pre = f"ancestor{h + 1}_"
        for name, col in t.local.items():
            data[pre + name] = col[up] if col.dtype != object else col[up].tolist()

    data["path"] = [getpath(t.nodes[i]) for i in kept.tolist()]
    return data, t.owner[kept]


def extract_features_from_tree(
    root: Element,
    depth: int,
    height: int,
    select_nodes=None,
    as_columns: bool = False,
) -> pd.DataFrame:
    """Feature frame for the nodes of one parsed tree, document order: the
    one-tree call of ``extract_features_from_trees``.  ``as_columns``
    returns the raw {column: array/list} dict instead of a DataFrame."""
    data, _ = extract_features_from_trees([root], depth, height, select_nodes)
    if as_columns:
        return data
    return pd.DataFrame(data, columns=feature_columns(depth, height))


def extract_features_from_html(html: str, depth: int, height: int) -> pd.DataFrame:
    """Parse (comments/PIs kept, as the reference's feature path does) and
    extract the full feature frame."""
    root = parse_html(html, remove_comments=False, remove_pis=False)
    if root is None:
        root = parse_html("<html><head></head><body></body></html>")
    return extract_features_from_tree(root, depth, height)
