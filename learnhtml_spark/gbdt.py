"""Minimal vectorized gradient-boosted decision trees (binary logloss).

The north-star model is a broadcast gradient-boosted node classifier
(reference trains sklearn tree ensembles / LightGBM-style models,
model_selection.py:80-93).  No sklearn/LightGBM exists in this
environment, so this is a from-scratch numpy GBDT:

- exact greedy splits over pre-sorted feature columns (argsort once,
  gain scan fully vectorized per feature),
- depth-limited regression trees on the logloss gradient/hessian
  (XGBoost-style gain with lambda regularization),
- dense numpy arrays only; a fitted model is six flat arrays over all
  its trees' nodes — trivially picklable for Spark broadcast — and
  fitting and scoring walk every tree of those arrays at once.

Designed for the node-classification workload: hundreds-to-thousands of
rows per fit, ~100 numeric features; scoring is vectorized and fast
inside the extraction UDF.
"""

from __future__ import annotations

import numpy as np


#: the packed form's node fields, in npz member order after
#: ``tree_sizes`` (nodes per tree): one flat array per field over every
#: tree's nodes; children are indices relative to their tree's root
_NODE_FIELDS = {
    "pk_feature": np.int32,
    "pk_threshold": np.float64,
    "pk_left": np.int32,
    "pk_right": np.int32,
    "pk_value": np.float64,
}


def _pack(trees: list[list]) -> dict:
    """The packed arrays of ``_build_tree`` node lists."""
    nodes = [node for tree in trees for node in tree]
    a = np.asarray(nodes, dtype=np.float64).reshape(-1, len(_NODE_FIELDS))
    pack = {"tree_sizes": np.asarray([len(t) for t in trees], dtype=np.int64)}
    for (name, dtype), col in zip(_NODE_FIELDS.items(), a.T):
        pack[name] = col.astype(dtype)
    return pack


def _walk(pack: dict) -> tuple:
    """A packed ensemble as a table of absolute children, built once per
    ensemble: ``child[2 * i]`` / ``child[2 * i + 1]`` are node i's left /
    right child, a leaf's both itself, and leaves test column 0.  Returns
    ``(roots, child, feature, threshold, value, steps)``, ``steps`` the
    deepest leaf's depth."""
    sizes = pack["tree_sizes"]
    roots = np.cumsum(sizes) - sizes
    base = np.repeat(roots, sizes)
    feature = pack["pk_feature"]
    leaf = feature < 0
    node = np.arange(len(feature))
    child = np.stack([np.where(leaf, node, base + pack["pk_left"]),
                      np.where(leaf, node, base + pack["pk_right"])], axis=1).ravel()
    frontier, steps = roots, 0
    while (inner := frontier[~leaf[frontier]]).size:
        frontier = child.reshape(-1, 2)[inner].ravel()
        steps += 1
    return (roots, child, np.where(leaf, 0, feature), pack["pk_threshold"],
            pack["pk_value"], steps)


def _leaves(walk: tuple, x: np.ndarray) -> np.ndarray:
    """(n, T) leaf value of every row in every tree: all trees are walked
    at once over an (n, T) matrix of node indices, one gather per level for
    a fixed number of levels (a leaf steps to itself; NaN goes right)."""
    roots, child, feature, threshold, value, steps = walk
    idx = np.broadcast_to(roots, (len(x), len(roots)))
    row = np.arange(len(x))[:, None]
    for _ in range(steps):
        idx = child[2 * idx + ~(x[row, feature[idx]] <= threshold[idx])]
    return value[idx]


def _best_split(x, g, h, rows, lam):
    """Best (feature, threshold, gain) for the row subset; vectorized scan
    of sorted prefix sums per feature."""
    best = (None, 0.0, 0.0)
    gs, hs = g[rows], h[rows]
    g_tot, h_tot = gs.sum(), hs.sum()
    parent = g_tot * g_tot / (h_tot + lam)
    xr = x[rows]
    n = len(rows)
    if n < 2:
        return best
    order = np.argsort(xr, axis=0, kind="stable")
    for f in range(x.shape[1]):
        o = order[:, f]
        xv = xr[o, f]
        gl = np.cumsum(gs[o])[:-1]
        hl = np.cumsum(hs[o])[:-1]
        valid = xv[:-1] < xv[1:]  # split between distinct values only
        if not valid.any():
            continue
        gr = g_tot - gl
        hr = h_tot - hl
        gain = gl * gl / (hl + lam) + gr * gr / (hr + lam) - parent
        gain = np.where(valid, gain, -np.inf)
        k = int(np.argmax(gain))
        if gain[k] > best[2]:
            best = (f, (xv[k] + xv[k + 1]) / 2.0, float(gain[k]))
    return best


def _build_tree(x, g, h, rows, depth, lam, min_rows):
    """One regression tree as its node list, root first: ``[feature,
    threshold, left, right, value]`` per node (``_NODE_FIELDS`` order),
    children indexing the list."""
    nodes = []

    def grow(rows, d):
        ni = len(nodes)
        nodes.append([-1, 0.0, -1, -1, 0.0])
        f, gain = None, 0.0
        if d < depth and len(rows) >= min_rows:
            f, t, gain = _best_split(x, g, h, rows, lam)
        if f is None or gain <= 1e-12:
            nodes[ni][4] = -g[rows].sum() / (h[rows].sum() + lam)
        else:
            mask = x[rows, f] <= t
            nodes[ni][:4] = [f, t, grow(rows[mask], d + 1), grow(rows[~mask], d + 1)]
        return ni

    grow(rows, 0)
    return nodes


class GBDTClassifier:
    """Binary-logloss gradient boosting; predict_proba over a dense matrix.
    The fitted ensemble is its packed node arrays (``to_arrays``' trees)."""

    def __init__(self, pack=None, learning_rate=0.2, base_score=0.0):
        self.pack = _pack([]) if pack is None else pack
        self._walk = _walk(self.pack)
        self.learning_rate = learning_rate
        self.base_score = base_score

    @property
    def n_trees(self) -> int:
        return len(self.pack["tree_sizes"])

    @classmethod
    def fit(
        cls,
        x: np.ndarray,
        y: np.ndarray,
        n_rounds: int = 120,
        depth: int = 4,
        learning_rate: float = 0.2,
        lam: float = 1.0,
        min_rows: int = 2,
        sample_weight: np.ndarray | None = None,
    ) -> "GBDTClassifier":
        x = np.ascontiguousarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        w = (
            np.ones_like(y)
            if sample_weight is None
            else np.asarray(sample_weight, dtype=np.float64)
        )
        p0 = min(max(y.mean(), 1e-6), 1 - 1e-6)
        base = float(np.log(p0 / (1 - p0)))
        z = np.full(len(y), base)
        trees = []
        rows_all = np.arange(len(y))
        for _ in range(n_rounds):
            p = 1.0 / (1.0 + np.exp(-z))
            g = (p - y) * w
            h = np.maximum(p * (1 - p) * w, 1e-12)
            tree = _build_tree(x, g, h, rows_all, depth, lam, min_rows)
            z = z + learning_rate * _leaves(_walk(_pack([tree])), x)[:, 0]
            trees.append(tree)
            # early exit when perfectly fit
            if ((p >= 0.5) == (y >= 0.5)).all() and np.abs(p - y).max() < 1e-3:
                break
        return cls(_pack(trees), learning_rate, base)

    def decision_function(self, x: np.ndarray) -> np.ndarray:
        x = np.ascontiguousarray(x, dtype=np.float64)
        z = np.full(len(x), self.base_score)
        for v in _leaves(self._walk, x).T:  # tree order: the fold fit used
            z += self.learning_rate * v
        return z

    def predict_proba(self, x: np.ndarray) -> np.ndarray:
        return 1.0 / (1.0 + np.exp(-np.clip(self.decision_function(x), -30, 30)))

    # -- serialization -------------------------------------------------------
    # trees are packed into SIX flat arrays (not per-tree entries): a
    # 150-tree model as per-tree npz members costs ~200ms per np.load —
    # measured as the dominant cost of per-task model deserialization on
    # executors — while the packed form loads in single-digit ms.
    def to_arrays(self) -> dict:
        return {
            "learning_rate": np.float64(self.learning_rate),
            "base_score": np.float64(self.base_score),
            **self.pack,
        }

    @classmethod
    def from_arrays(cls, data) -> "GBDTClassifier":
        pack = {k: np.asarray(data[k]) for k in ("tree_sizes", *_NODE_FIELDS)}
        return cls(pack, float(data["learning_rate"]), float(data["base_score"]))
