"""The document kernel over whole Arrow batches: one feature pass over a
batch's node table equals the one-tree calls, the batched predict is
bit-identical to the per-row forms it replaced (kept here as oracles), and
``extract_rows`` leaves the cyclic garbage collector as it found it."""

import gc

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from learnhtml_spark.htmlparse import parse_html
from learnhtml_spark.kernels.document import (
    block_columns, block_frame_columns, extract_rows, html_doc)
from learnhtml_spark.kernels.features import (
    extract_features_from_tree, extract_features_from_trees, feature_columns)

WINDOWS = [(5, 5), (2, 2), (0, 0), (3, 1)]
TINY = dict(epochs=20, gbdt_rounds=5)


def _one_span(html):
    return [{"kind": "html", "text": html, "media_ref": None, "offset": 0}]


def _assert_same_columns(got: dict, want: dict, names):
    for c in names:
        a, b = got[c], want[c]
        assert type(a) is type(b), c
        if isinstance(a, np.ndarray):
            assert a.dtype == b.dtype and a.tobytes() == b.tobytes(), c
        else:
            assert a == b, c


def _assert_batch_equals_one_tree_calls(roots, depth, height, select=None):
    got, owner = extract_features_from_trees(roots, depth, height, select)
    names = feature_columns(depth, height)
    if not roots:
        assert list(got) == names and not any(len(v) for v in got.values())
        assert len(owner) == 0
        return
    parts = [extract_features_from_tree(r, depth, height, select, as_columns=True)
             for r in roots]
    want = {c: (np.concatenate([p[c] for p in parts])
                if isinstance(parts[0][c], np.ndarray)
                else [v for p in parts for v in p[c]]) for c in names}
    _assert_same_columns(got, want, names)
    assert owner.dtype == np.int64
    assert owner.tolist() == [k for k, p in enumerate(parts) for _ in p["path"]]
    frame = pd.DataFrame(got, columns=names)
    alone = pd.concat([pd.DataFrame(p, columns=names) for p in parts], ignore_index=True)
    assert frame.equals(alone) and (frame.dtypes == alone.dtypes).all()


def _fixture_roots(fixture_docs):
    roots = [parse_html(html, remove_comments=False, remove_pis=False)
             for _, html, _ in fixture_docs]
    extra = ("<html><!-- c --><?pi x?><body>a<!--x-->b<p class='a  b' id=q>t"
             "<b class=k>u</b>v</p>w<?x y?>z</body></html>")
    return roots + [parse_html(extra, remove_comments=False, remove_pis=False)]


@pytest.mark.parametrize("depth,height", WINDOWS)
def test_batch_features_equal_one_tree_calls(fixture_docs, depth, height):
    roots = _fixture_roots(fixture_docs)
    _assert_batch_equals_one_tree_calls(roots, depth, height)
    # output rows restricted to every third node: values still come from
    # the whole trees
    select = {id(n) for r in roots for k, n in enumerate(r.iter()) if k % 3 == 0}
    _assert_batch_equals_one_tree_calls(roots, depth, height, select)
    _assert_batch_equals_one_tree_calls([], depth, height)


_TAGS = ["div", "p", "span", "a", "ul", "li", "b", "table", "td"]
_word = st.text(alphabet="ab cD,", max_size=6)


@st.composite
def _nested_html(draw, level=0):
    parts = []
    for _ in range(draw(st.integers(0, 3 if level < 4 else 0))):
        kind = draw(st.sampled_from(["el", "text", "comment"]))
        if kind == "text":
            parts.append(draw(_word))
        elif kind == "comment":
            parts.append(f"<!--{draw(_word)}-->")
        else:
            tag = draw(st.sampled_from(_TAGS))
            attrs = "".join(f' {a}="{draw(_word)}"'
                            for a in draw(st.sets(st.sampled_from(["class", "id"]))))
            parts.append(f"<{tag}{attrs}>{draw(_nested_html(level + 1))}</{tag}>")
    return "".join(parts)


@settings(max_examples=40, deadline=None)
@given(st.lists(_nested_html(), min_size=1, max_size=4),
       st.sampled_from(WINDOWS))
def test_batch_features_equal_one_tree_calls_generated(htmls, window):
    roots = [parse_html(f"<html><body>{h}</body></html>",
                        remove_comments=False, remove_pis=False) for h in htmls]
    _assert_batch_equals_one_tree_calls(roots, *window)


@pytest.mark.parametrize("depth,height", WINDOWS)
def test_block_columns_batch_mixes_empty_documents(fixture_docs, depth, height):
    """A batch with documents without blocks: their rows are absent, the
    other documents' rows equal their own batch-of-one columns."""
    docs = [html_doc(""), html_doc(fixture_docs[0][1]), html_doc("<html></html>"),
            html_doc(fixture_docs[2][1]), html_doc("<p>one block</p>")]
    got, owner = block_columns(docs, depth, height)
    names = block_frame_columns(depth, height)
    parts = [(i, block_columns([d], depth, height)[0]) for i, d in enumerate(docs)]
    assert [len(p["path"]) for _, p in parts] == [
        0, len(parts[1][1]["path"]), 0, len(parts[3][1]["path"]), 1]
    want = {c: (np.concatenate([p[c] for _, p in parts])
                if isinstance(parts[0][1][c], np.ndarray)
                else [v for _, p in parts for v in p[c]]) for c in names}
    _assert_same_columns(got, want, names)
    assert owner.tolist() == [i for i, p in parts for _ in p["path"]]


# -- predict oracles: the per-row forms the batched predict replaced ------

def _oracle_leaves(pack, x):
    feature, threshold = pack["pk_feature"], pack["pk_threshold"]
    left, right = pack["pk_left"], pack["pk_right"]
    sizes = pack["tree_sizes"]
    root = np.cumsum(sizes) - sizes
    idx = np.tile(root, (len(x), 1))
    row = np.arange(len(x))[:, None]
    while True:
        feat = feature[idx]
        leaf = feat < 0
        if leaf.all():
            return pack["pk_value"][idx]
        go_left = x[row, np.maximum(feat, 0)] <= threshold[idx]
        child = np.where(go_left, left[idx], right[idx])
        idx = np.where(leaf, idx, root + child)


def _oracle_featurize_frame(df, columns=None):
    from learnhtml_spark.model import (
        _input_names, _numeric_columns, _string_columns, _value_slots)

    if columns is not None and _input_names(df) != columns:
        df = df[columns]
    x_num = df[_numeric_columns(df)].to_numpy(dtype=np.float64, copy=True)
    none = np.zeros(0, dtype=np.int64)
    rows, slots = [none], [none]
    for col in _string_columns(df):
        codes, uniques = pd.factorize(df[col])
        per_code = [_value_slots(col, v) for v in uniques]
        per_code.append(_value_slots(col, ""))
        counts = np.array([len(a) for a in per_code])[codes]
        rows.append(np.repeat(np.arange(len(codes)), counts))
        slots.extend([per_code[c] for c in codes.tolist()])
    return x_num, np.concatenate(rows), np.concatenate(slots)


def _random_pack(rng, n_trees, n_features, depth=4):
    from learnhtml_spark.gbdt import _pack

    def tree():
        nodes = []

        def grow(d):
            i = len(nodes)
            nodes.append([-1, 0.0, -1, -1, float(rng.normal())])
            if d < depth and rng.random() < 0.7:
                f = int(rng.integers(n_features))
                t = float(rng.choice([-1.0, 0.0, 0.5, 2.0]))
                nodes[i][:4] = [f, t, grow(d + 1), grow(d + 1)]
            return i

        grow(0)
        return nodes

    return _pack([tree() for _ in range(n_trees)])


@pytest.mark.parametrize("seed", range(6))
def test_leaves_equal_oracle(seed):
    from learnhtml_spark.gbdt import _leaves, _walk

    rng = np.random.default_rng(seed)
    pack = _random_pack(rng, n_trees=int(rng.integers(0, 12)), n_features=5)
    for n in (0, 1, 64):
        x = rng.choice([-1.0, 0.0, 0.5, 2.0, 3.7, np.nan, np.inf, -np.inf], (n, 5))
        want = _oracle_leaves(pack, x)
        got = _leaves(_walk(pack), x)
        assert got.shape == want.shape and np.array_equal(got, want)


@pytest.mark.parametrize("depth,height", [(5, 5), (2, 1)])
def test_featurize_frame_equals_oracle(fixture_docs, depth, height):
    from learnhtml_spark.model import featurize_frame

    names = block_frame_columns(depth, height)
    cols, _ = block_columns([html_doc(h) for _, h, _ in fixture_docs], depth, height)
    frames = [pd.DataFrame(cols, columns=names)]
    frames.append(frames[0].iloc[:0])
    odd = frames[0].head(6).copy()
    odd["tag"] = [None, "", "div", "div", None, ""]
    odd["class_text"] = ["", "a b", "a b", None, "", "navBar"]
    odd["descendant1_tags"] = ["p,a", "p,a", "", None, "p,a", ""]
    frames.append(odd)
    for f in frames:
        want = _oracle_featurize_frame(f)
        got = featurize_frame(f)
        for a, b in zip(got, want):
            assert a.dtype == b.dtype and np.array_equal(a, b)


def test_node_classifier_fit_equals_oracle(fixture_docs, monkeypatch):
    """The TINY fit gives the same model bytes with the batched predict as
    with the per-row oracles."""
    from learnhtml_spark import gbdt, model
    from learnhtml_spark.training import build_training_pair

    pairs = [build_training_pair(html, gold) for _, html, gold in fixture_docs]
    frames, labels = [f for f, _ in pairs], [y for _, y in pairs]
    got = model.NodeClassifier.fit(frames, labels, **TINY)
    got_p = got.predict_proba(frames[1])
    monkeypatch.setattr(model, "featurize_frame", _oracle_featurize_frame)
    monkeypatch.setattr(gbdt, "_walk", lambda pack: pack)
    monkeypatch.setattr(gbdt, "_leaves", _oracle_leaves)
    want = model.NodeClassifier.fit(frames, labels, **TINY)
    assert got.to_bytes() == want.to_bytes()
    assert got_p.tobytes() == want.predict_proba(frames[1]).tobytes()


# -- the cyclic collector --------------------------------------------------

class _Raises:
    def predict(self, frame):
        raise RuntimeError("predict failed")


@pytest.mark.parametrize("enabled", [True, False])
def test_extract_rows_restores_gc_state(fixture_model, enabled):
    good = (("d",), _one_span("<p>some words in a paragraph here</p>"))
    bad = (("bad",), [{"kind": "html", "text": "x", "media_ref": None,
                       "offset": None}, {"kind": "text", "text": "y",
                                         "media_ref": None, "offset": 0}])
    was = gc.isenabled()
    try:
        (gc.enable if enabled else gc.disable)()
        for clf in (None, fixture_model):
            rows = extract_rows([good, bad], clf)
            assert gc.isenabled() is enabled
            assert [r for r in rows if r[1] == "error"] == [
                r for r in rows if r[0] == "bad"]
            assert len([r for r in rows if r[0] == "bad"]) == 1
        with pytest.raises(RuntimeError, match="predict failed"):
            extract_rows([good], _Raises())
        assert gc.isenabled() is enabled
    finally:
        (gc.enable if was else gc.disable)()


def test_extract_rows_heuristic_rows_unchanged(fixture_docs):
    """The density-rule path gives the same rows with the collector paused
    and the trees' parent links dropped as the plain per-document calls."""
    from learnhtml_spark.kernels.document import (
        assemble_doc, heuristic_block_flags, parse_doc)

    docs = [((name,), _one_span(html)) for name, html, _ in fixture_docs]
    want = []
    for key, spans in docs:
        doc = parse_doc(spans)
        want.extend(assemble_doc(key, doc, heuristic_block_flags(doc.blocks)))
    assert extract_rows(docs) == want


def test_feature_error_is_one_error_row(fixture_model, monkeypatch):
    """A document whose features raise becomes one error row; the rest of
    the batch is featurized and predicted as without it."""
    from learnhtml_spark.kernels import document

    docs = [(("a",), _one_span("<p>first paragraph of some words here</p>")),
            (("b",), _one_span("<p class='x'>second paragraph</p>")),
            (("c",), _one_span("<div>third block of words</div>"))]
    parse = document.parse_doc

    def poisoned(spans):
        doc = parse(spans)
        if "second" in spans[0]["text"]:
            doc.blocks[0].features["block_start_element"].attrib["class"] = 5
        return doc

    monkeypatch.setattr(document, "parse_doc", poisoned)
    rows = extract_rows(docs, fixture_model)
    errors = [r for r in rows if r[1] == "error"]
    assert [r[0] for r in errors] == ["b"] and errors[0][2].startswith("AttributeError")
    assert [r for r in rows if r[1] != "error"] == [
        r for r in extract_rows([docs[0], docs[2]], fixture_model)]
