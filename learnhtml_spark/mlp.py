"""From-scratch numpy MLP classifier — the engine's rendition of the
reference's Keras/MLP variant (M8).

Reference parity (learnhtml/utils/keras.py):
- ``create_model`` (:75-95): Dense(hidden_layers[0], activation) →
  [Dense(size, activation) + Dropout]* → Dense(1, sigmoid), binary
  cross-entropy — reproduced here with explicit numpy forward/backward.
- ``MyKerasClassifier.fit`` (:205-270): 90/10 validation split, early
  stopping on validation F1 with patience, best-weights checkpointing,
  'balanced' class weights — all reproduced (in-memory checkpoint instead
  of a file).
- Adam/Adagrad optimizer choice (DEEP_TUNABLE, model_selection.py:54-63).

keras/tensorflow are not installed in this environment, so this is a
dependency-free equivalent, not a wrapper.  Inverted dropout; Xavier
init; deterministic given ``seed``.
"""

from __future__ import annotations

import numpy as np


def _act(name: str):
    if name == "relu":
        return lambda z: np.maximum(z, 0.0), lambda z, a: (z > 0).astype(z.dtype)
    if name == "tanh":
        return np.tanh, lambda z, a: 1.0 - a * a
    if name == "sigmoid":
        s = lambda z: 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
        return s, lambda z, a: a * (1.0 - a)
    if name == "selu":
        alpha, scale = 1.6732632423543772, 1.0507009873554805

        def f(z):
            return scale * np.where(z > 0, z, alpha * (np.exp(np.clip(z, -30, 0)) - 1))

        def df(z, a):
            return scale * np.where(z > 0, 1.0, alpha * np.exp(np.clip(z, -30, 0)))

        return f, df
    raise ValueError(f"unknown activation {name}")


def _f1(y_true, y_pred) -> float:
    tp = float((y_true & y_pred).sum())
    fp = float((~y_true & y_pred).sum())
    fn = float((y_true & ~y_pred).sum())
    return 0.0 if tp == 0 else 2 * tp / (2 * tp + fp + fn)


class MLPClassifier:
    """Binary MLP: hidden_layers (list of widths), relu/tanh/sigmoid/selu,
    optional inverted dropout, adam or adagrad, balanced class weights,
    early stopping on validation F1 with best-weight restore."""

    def __init__(
        self,
        hidden_layers=(64,),
        activation: str = "relu",
        dropout: float | None = None,
        optimizer: str = "adam",
        lr: float = 1e-3,
        batch_size: int = 1024,
        epochs: int = 200,
        patience: int = 10,
        val_fraction: float = 0.1,
        seed: int = 42,
    ):
        self.hidden_layers = list(hidden_layers)
        self.activation = activation
        self.dropout = dropout
        self.optimizer = optimizer
        self.lr = lr
        self.batch_size = batch_size
        self.epochs = epochs
        self.patience = patience
        self.val_fraction = val_fraction
        self.seed = seed
        self.weights_: list | None = None

    # -- internals ----------------------------------------------------------
    def _init(self, n_in: int, rng):
        sizes = [n_in] + self.hidden_layers + [1]
        ws = []
        for a, b in zip(sizes[:-1], sizes[1:]):
            lim = np.sqrt(6.0 / (a + b))  # Glorot uniform (keras default)
            ws.append((rng.uniform(-lim, lim, (a, b)), np.zeros(b)))
        return ws

    def _forward(self, x, ws, rng=None):
        """Returns (zs, acts, pre_acts, masks): ``acts`` are post-dropout
        (the actual inputs fed forward, used for weight grads), ``pre_acts``
        are pre-dropout activations (activation derivatives must be
        evaluated on these, not the dropout-scaled values), ``masks`` are
        the inverted-dropout keep masks (None where no dropout applied).

        Dropout placement matches the reference ``create_model``
        (utils/keras.py:88-91): only after hidden layers 2+ — the first
        hidden layer gets no Dropout."""
        f, _ = _act(self.activation)
        acts = [x]
        pre_acts = [x]
        zs = []
        masks = []
        a = x
        for li, (w, b) in enumerate(ws):
            z = a @ w + b
            zs.append(z)
            if li < len(ws) - 1:
                a_pre = f(z)
                a = a_pre
                mask = None
                if self.dropout and rng is not None and li >= 1:
                    mask = (rng.random(a.shape) >= self.dropout) / (
                        1.0 - self.dropout
                    )
                    a = a_pre * mask
                masks.append(mask)
                pre_acts.append(a_pre)
            else:
                a = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
                masks.append(None)
                pre_acts.append(a)
            acts.append(a)
        return zs, acts, pre_acts, masks

    def _backward(self, ws, zs, acts, pre_acts, masks, delta):
        """Per-layer (gw, gb) grads from the output-layer delta.  Dropout
        keep masks gate the backpropagated delta (dropped units receive no
        gradient) and activation derivatives are evaluated on PRE-dropout
        activations — matching what Keras Dropout does (ADVICE r2)."""
        _, dfa = _act(self.activation)
        delta = delta[:, None] if delta.ndim == 1 else delta
        grads = [None] * len(ws)
        for li in range(len(ws) - 1, -1, -1):
            grads[li] = (acts[li].T @ delta, delta.sum(axis=0))
            if li > 0:
                delta = delta @ ws[li][0].T
                if masks[li - 1] is not None:
                    delta = delta * masks[li - 1]
                delta = delta * dfa(zs[li - 1], pre_acts[li])
        return grads

    # -- API ----------------------------------------------------------------
    def fit(self, x, y) -> "MLPClassifier":
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64).ravel()
        rng = np.random.default_rng(self.seed)

        # 90/10 tail validation split (keras wrapper :233-237)
        val_point = int(len(y) * (1.0 - self.val_fraction))
        if 0 < val_point < len(y):
            x_val, y_val = x[val_point:], y[val_point:]
            x, y = x[:val_point], y[:val_point]
        else:
            x_val, y_val = x, y

        n = len(y)
        pos = max(y.sum(), 1.0)
        neg = max(n - y.sum(), 1.0)
        w_pos, w_neg = n / (2.0 * pos), n / (2.0 * neg)
        sw = np.where(y > 0.5, w_pos, w_neg)

        ws = self._init(x.shape[1], rng)
        # optimizer state
        m = [(np.zeros_like(w), np.zeros_like(b)) for w, b in ws]
        v = [(np.zeros_like(w), np.zeros_like(b)) for w, b in ws]
        t = 0
        best_f1, best_ws, stale = -1.0, [(w.copy(), b.copy()) for w, b in ws], 0

        for epoch in range(self.epochs):
            order = rng.permutation(n)
            for s in range(0, n, self.batch_size):
                idx = order[s : s + self.batch_size]
                xb, yb, swb = x[idx], y[idx], sw[idx]
                zs, acts, pre_acts, masks = self._forward(
                    xb, ws, rng if self.dropout else None
                )
                # BCE grad at sigmoid output
                delta = (acts[-1].ravel() - yb) * swb / len(idx)
                grads = self._backward(ws, zs, acts, pre_acts, masks, delta)
                t += 1
                for li in range(len(ws) - 1, -1, -1):
                    gw, gb = grads[li]
                    w, b = ws[li]
                    if self.optimizer == "adam":
                        b1, b2, eps = 0.9, 0.999, 1e-8
                        mw, mb = m[li]
                        vw, vb = v[li]
                        mw[:] = b1 * mw + (1 - b1) * gw
                        mb[:] = b1 * mb + (1 - b1) * gb
                        vw[:] = b2 * vw + (1 - b2) * gw * gw
                        vb[:] = b2 * vb + (1 - b2) * gb * gb
                        corr = np.sqrt(1 - b2**t) / (1 - b1**t)
                        w -= self.lr * corr * mw / (np.sqrt(vw) + eps)
                        b -= self.lr * corr * mb / (np.sqrt(vb) + eps)
                    else:  # adagrad
                        vw, vb = v[li]
                        vw += gw * gw
                        vb += gb * gb
                        w -= self.lr * gw / (np.sqrt(vw) + 1e-8)
                        b -= self.lr * gb / (np.sqrt(vb) + 1e-8)

            # early stopping on val F1 (keras wrapper :252-256)
            val_pred = self.predict(x_val, _ws=ws)
            f1 = _f1(y_val > 0.5, val_pred)
            if f1 > best_f1 + 1e-4:
                best_f1, stale = f1, 0
                best_ws = [(w.copy(), b.copy()) for w, b in ws]
            else:
                stale += 1
                if stale >= self.patience:
                    break

        self.weights_ = best_ws  # checkpoint restore (:272-273)
        return self

    def predict_proba(self, x, _ws=None) -> np.ndarray:
        ws = _ws if _ws is not None else self.weights_
        x = np.asarray(x, dtype=np.float64)
        _, acts, _, _ = self._forward(x, ws, rng=None)
        return acts[-1].ravel()

    def predict(self, x, _ws=None) -> np.ndarray:
        return self.predict_proba(x, _ws=_ws) >= 0.5

    # -- (de)serialization: the one npz codec for a fitted MLP -------------
    def to_arrays(self) -> tuple[dict, dict]:
        """(meta, arrays): hidden widths + activation, and the per-layer
        ``mlp_w{i}``/``mlp_b{i}`` weights."""
        arrays = {}
        for i, (w, b) in enumerate(self.weights_):
            arrays[f"mlp_w{i}"] = w
            arrays[f"mlp_b{i}"] = b
        return {"hidden": self.hidden_layers, "activation": self.activation}, arrays

    @classmethod
    def from_arrays(cls, meta: dict, z) -> "MLPClassifier":
        mlp = cls(hidden_layers=meta["hidden"], activation=meta["activation"])
        n_layers = sum(k.startswith("mlp_w") for k in z)
        mlp.weights_ = [(z[f"mlp_w{i}"], z[f"mlp_b{i}"]) for i in range(n_layers)]
        return mlp
