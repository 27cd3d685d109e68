"""Tests for the numpy MLP classifier (M8 deep variant — reference
utils/keras.py create_model + MyKerasClassifier, env-blocked keras
re-expressed from scratch)."""

import numpy as np
import pandas as pd


def _blobs(n=600, seed=0):
    rng = np.random.default_rng(seed)
    y = (rng.random(n) > 0.5).astype(float)
    x = rng.normal(0, 1, (n, 6))
    x[:, 0] += 2.5 * y          # informative
    x[:, 1] -= 1.5 * y
    return x, y


def test_mlp_learns_separable():
    from learnhtml_spark.mlp import MLPClassifier

    x, y = _blobs()
    clf = MLPClassifier(hidden_layers=[16], epochs=100, batch_size=64, lr=3e-3, seed=1).fit(x, y)
    acc = (clf.predict(x) == (y > 0.5)).mean()
    assert acc > 0.9


def test_mlp_nonlinear_xor():
    from learnhtml_spark.mlp import MLPClassifier

    rng = np.random.default_rng(2)
    x = rng.uniform(-1, 1, (800, 2))
    y = ((x[:, 0] > 0) ^ (x[:, 1] > 0)).astype(float)  # not linearly separable
    clf = MLPClassifier(
        hidden_layers=[32, 16], epochs=300, batch_size=64, lr=3e-3, seed=3
    ).fit(x, y)
    acc = (clf.predict(x) == (y > 0.5)).mean()
    assert acc > 0.9


def test_mlp_activations_and_optimizers():
    from learnhtml_spark.mlp import MLPClassifier

    x, y = _blobs(300, seed=4)
    for act in ("relu", "tanh", "selu", "sigmoid"):
        for opt, lr in (("adam", 5e-3), ("adagrad", 5e-2)):
            clf = MLPClassifier(
                hidden_layers=[8], activation=act, optimizer=opt,
                epochs=80, batch_size=64, lr=lr, dropout=0.1, seed=5,
            ).fit(x, y)
            # every combo must LEARN (beat the 0.5 base rate clearly);
            # peak accuracy is covered by the dedicated tests above
            assert (clf.predict(x) == (y > 0.5)).mean() > 0.75, (act, opt)


class _FixedRng:
    """rng stub: .random(shape) returns pre-seeded uniforms deterministically
    so the SAME dropout masks can be replayed across forward passes."""

    def __init__(self, seed):
        self.seed = seed

    def random(self, shape):
        return np.random.default_rng(self.seed).random(shape)


def test_mlp_dropout_backprop_matches_finite_difference():
    """ADVICE r2: dropout backprop must gate the delta with the keep mask
    and evaluate activation derivatives on PRE-dropout activations.
    Finite-difference check of _backward under a fixed dropout mask."""
    from learnhtml_spark.mlp import MLPClassifier

    rng = np.random.default_rng(10)
    x = rng.normal(0, 1, (5, 4))
    y = (rng.random(5) > 0.5).astype(float)
    for act in ("tanh", "relu", "sigmoid", "selu"):
        clf = MLPClassifier(hidden_layers=[6, 5], activation=act, dropout=0.4)
        ws = clf._init(4, np.random.default_rng(11))

        def loss(ws_):
            zs, acts, _, _ = clf._forward(x, ws_, _FixedRng(12))
            p = np.clip(acts[-1].ravel(), 1e-12, 1 - 1e-12)
            return -(y * np.log(p) + (1 - y) * np.log(1 - p)).mean()

        zs, acts, pre_acts, masks = clf._forward(x, ws, _FixedRng(12))
        assert masks[0] is None          # no Dropout after the 1st hidden
        assert masks[1] is not None      # Dropout after the 2nd hidden
        assert (masks[1] == 0).any()     # the mask actually drops units
        delta = (acts[-1].ravel() - y) / len(y)
        grads = clf._backward(ws, zs, acts, pre_acts, masks, delta)

        eps = 1e-6
        for li in range(len(ws)):
            w = ws[li][0]
            flat = [(0, 0), (w.shape[0] - 1, w.shape[1] - 1), (0, w.shape[1] - 1)]
            for i, j in flat:
                w[i, j] += eps
                lp = loss(ws)
                w[i, j] -= 2 * eps
                lm = loss(ws)
                w[i, j] += eps
                num = (lp - lm) / (2 * eps)
                assert abs(grads[li][0][i, j] - num) < 1e-5, (act, li, i, j)


def test_mlp_deterministic():
    from learnhtml_spark.mlp import MLPClassifier

    x, y = _blobs(200, seed=6)
    p1 = MLPClassifier(hidden_layers=[8], epochs=20, batch_size=64, seed=7).fit(x, y).predict_proba(x)
    p2 = MLPClassifier(hidden_layers=[8], epochs=20, batch_size=64, seed=7).fit(x, y).predict_proba(x)
    assert np.array_equal(p1, p2)


def test_node_classifier_mlp_head():
    from learnhtml_spark.model import NodeClassifier

    rng = np.random.default_rng(8)
    frames, labels = [], []
    for d in range(4):
        n = 40
        y = (rng.random(n) > 0.5).astype(float)
        frames.append(
            pd.DataFrame(
                {
                    "path": [f"/p{i}" for i in range(n)],
                    "tag": np.where(y > 0.5, "p", "a"),
                    "class_text": "",
                    "id_text": "",
                    "density": y * 8 + rng.random(n),
                }
            )
        )
        labels.append(y)
    clf = NodeClassifier.fit(
        frames, labels, epochs=60, head="mlp",
        mlp_params={"hidden_layers": [16], "epochs": 120, "batch_size": 32, "lr": 5e-3},
    )
    acc = np.mean(
        [
            (np.asarray(clf.predict(f)) == (l > 0.5)).mean()
            for f, l in zip(frames, labels)
        ]
    )
    assert acc > 0.9
    # the head survives serialization: the reloaded model serves the MLP,
    # not the bare logistic score
    again = NodeClassifier.from_bytes(clf.to_bytes())
    for f in frames:
        np.testing.assert_array_equal(again.predict_proba(f), clf.predict_proba(f))
