"""The model phase in array form: the GBDT is its packed node arrays
(walked all trees at once), and the hashed featurizer hashes each distinct
value once per batch.  Each test compares against a plain per-tree or
per-row reference kept here."""

import io
import os
import zlib

import numpy as np
import pandas as pd
import pytest

ARTIFACTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "learnhtml_spark", "artifacts",
)


def _npz(arrays: dict) -> bytes:
    buf = io.BytesIO()
    np.savez(buf, **arrays)
    return buf.getvalue()


def _roundtrip(gbdt):
    from learnhtml_spark.gbdt import GBDTClassifier

    data = _npz(gbdt.to_arrays())
    with np.load(io.BytesIO(data)) as z:
        back = GBDTClassifier.from_arrays(z)
    assert _npz(back.to_arrays()) == data
    return back


def _per_tree_decision(gbdt, x):
    """Walk each tree row by row, adding the leaves in tree order."""
    a = gbdt.to_arrays()
    z = np.full(len(x), gbdt.base_score)
    root = 0
    for size in a["tree_sizes"]:
        leaf = np.empty(len(x))
        for i, row in enumerate(x):
            node = root
            while a["pk_feature"][node] >= 0:
                go_left = row[a["pk_feature"][node]] <= a["pk_threshold"][node]
                node = root + a["pk_left" if go_left else "pk_right"][node]
            leaf[i] = a["pk_value"][node]
        z += gbdt.learning_rate * leaf
        root += size
    return z


@pytest.mark.parametrize("name", ["model.npz", "exact.npz"])
def test_committed_artifacts_roundtrip_bytes(name):
    from learnhtml_spark.exact_model import load_any_model

    with open(os.path.join(ARTIFACTS, name), "rb") as f:
        data = f.read()
    assert load_any_model(data).to_bytes() == data


def test_gbdt_walk_equals_per_tree_walk():
    from learnhtml_spark.gbdt import GBDTClassifier

    rng = np.random.default_rng(7)
    x = rng.normal(size=(300, 4))
    y = ((x[:, 0] > 0) ^ (x[:, 1] * x[:, 2] > 0.3)).astype(float)
    gbdt = GBDTClassifier.fit(x, y, n_rounds=25, depth=3)
    a = gbdt.to_arrays()
    split = a["pk_feature"] >= 0
    assert gbdt.n_trees == len(a["tree_sizes"]) > 1 and split.any()
    # one row per split node with that node's feature exactly at its threshold
    at = np.repeat(rng.normal(size=(1, 4)), split.sum(), axis=0)
    at[np.arange(len(at)), a["pk_feature"][split]] = a["pk_threshold"][split]
    for rows in (x, at, rng.normal(size=(50, 4)) * 3):
        assert np.array_equal(gbdt.decision_function(rows),
                              _per_tree_decision(gbdt, rows))
    back = _roundtrip(gbdt)
    assert np.array_equal(back.decision_function(at), gbdt.decision_function(at))


def test_gbdt_zero_rounds_scores_base():
    from learnhtml_spark.gbdt import GBDTClassifier

    x = np.arange(12, dtype=np.float64).reshape(6, 2)
    y = np.array([0, 1, 0, 1, 1, 1], dtype=np.float64)
    gbdt = GBDTClassifier.fit(x, y, n_rounds=0)
    assert gbdt.n_trees == 0
    assert np.array_equal(gbdt.decision_function(x), np.full(6, gbdt.base_score))
    assert gbdt.base_score == pytest.approx(np.log(2))
    back = _roundtrip(gbdt)
    assert np.array_equal(back.decision_function(x), np.full(6, gbdt.base_score))
    assert back.decision_function(x[:0]).shape == (0,)


def _per_row_triplets(df):
    """crc32(col + "=" + gram) for every gram of every row, column by
    column; missing values read as ""."""
    from learnhtml_spark.model import HASH_DIM, camel_case_split

    rows, slots = [], []
    for col in df.columns:
        if col == "path" or df[col].dtype != object:
            continue
        for i, v in enumerate(df[col].tolist()):
            v = v if isinstance(v, str) else ""
            if col.endswith("tag"):
                grams = [v]
            elif col.endswith("tags"):
                grams = [t for t in v.split(",") if t]
            else:
                s = camel_case_split(v).lower()
                grams = [f" {s} "[j : j + 3] for j in range(len(s))]
            for g in grams:
                rows.append(i)
                key = (col + "=" + g).encode("utf-8", "ignore")
                slots.append(zlib.crc32(key) % HASH_DIM)
    return np.asarray(rows, dtype=np.int64), np.asarray(slots, dtype=np.int64)


def _assert_featurized(df):
    from learnhtml_spark.model import featurize_frame

    x_num, rows, slots = featurize_frame(df)
    want_rows, want_slots = _per_row_triplets(df)
    assert rows.dtype == slots.dtype == np.int64
    assert np.array_equal(rows, want_rows) and np.array_equal(slots, want_slots)
    num = [c for c in df.columns if c != "path" and df[c].dtype != object]
    assert np.array_equal(x_num, df[num].to_numpy(dtype=np.float64))


def test_featurize_frame_equals_per_row_hashing():
    batch_a = pd.DataFrame({
        "path": ["/a", "/b", "/c", "/d", "/e"],
        "tag": ["div", None, "p", "div", ""],
        "child_tags": ["p,a,,span", "", None, "p,a,,span", "ül,ö"],
        "class_text": ["mainContent navBar", "naïve Café", None, "x\ud800y",
                       float("nan")],
        "width": [1.0, 2.0, 3.0, 4.0, 5.0],
    })
    # repeats across batches: the second batch reuses batch_a's values
    batch_b = pd.DataFrame({
        "path": ["/f", "/g", "/h"],
        "tag": ["p", "div", None],
        "child_tags": ["ül,ö", "p,a,,span", "b"],
        "class_text": ["mainContent navBar", "\ud800", "日本語テキスト"],
        "width": [0.5, 0.0, -1.0],
    })
    for df in (batch_a, batch_b, batch_a, batch_a.iloc[:0]):
        _assert_featurized(df)


def test_featurize_frame_on_block_rows(fixture_docs):
    from learnhtml_spark.kernels.document import (
        block_columns,
        block_frame_columns,
        html_doc,
    )

    names = block_frame_columns(5, 5)
    for _, html, _ in fixture_docs:
        cols, _ = block_columns([html_doc(html)], 5, 5)
        _assert_featurized(pd.DataFrame(cols, columns=names))
