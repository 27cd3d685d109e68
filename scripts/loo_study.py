"""Leave-one-out study on the 4 reference fixture pages (MODEL.md):
hashed vs exact vectorization (M1-M4 delta), chi² percentile filtering
(M7), and randomized-search-selected hyperparameters (M9).

Variants:
  hashed-full       packaged path: hashed text features + GBDT
  hashed-numeric    epochs=0 (structural features only)
  hashed-chi2-P     hashed + chi2_percentile=P
  hashed-searched   per-fold randomized search on the 3 train pages
  exact-full        ExactVectorizer (reference M1-M4 semantics) + MaxAbs
                    + chi² percentile + GBDT on the dense matrix
  exact-mlp         same features, numpy MLP head (M8 deep variant)

Run: python scripts/loo_study.py   (~2-4 min, driver-side numpy)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from learnhtml_spark.model import NodeClassifier
from learnhtml_spark.selection import (
    chi2_percentile_mask,
    f1_score,
    search_params,
)
from learnhtml_spark.training import fixture_training_docs, training_pairs


def loo_f1(fit_fn, predict_fn, frames, labels):
    """Micro-F1 pooled over the 4 leave-one-out folds."""
    yt, yp = [], []
    for i in range(len(frames)):
        tr = [j for j in range(len(frames)) if j != i]
        model = fit_fn([frames[j] for j in tr], [labels[j] for j in tr])
        yt.append(np.asarray(labels[i], dtype=bool))
        yp.append(np.asarray(predict_fn(model, i), dtype=bool))
    return f1_score(np.concatenate(yt), np.concatenate(yp))


def main():
    frames, labels = training_pairs(fixture_training_docs())
    print(f"{len(frames)} fixture pages, block rows:", [len(f) for f in frames])
    results = {}

    # --- hashed variants ---------------------------------------------------
    def hashed(fit_kw):
        return loo_f1(
            lambda fr, lb: NodeClassifier.fit(fr, lb, **fit_kw),
            lambda m, i: m.predict(frames[i]),
            frames,
            labels,
        )

    results["hashed-full"] = hashed(dict(epochs=400, lr=1.0, l2=1e-5))
    results["hashed-numeric"] = hashed(dict(epochs=0))
    for p in (50, 25, 10):
        results[f"hashed-chi2-{p}"] = hashed(
            dict(epochs=400, lr=1.0, l2=1e-5, chi2_percentile=p)
        )

    # --- hashed + per-fold randomized search (M9, honest nested protocol) --
    def fit_searched(fr, lb):
        dists = {
            "lr": lambda rng: float(10 ** rng.uniform(-0.5, 0.3)),
            "l2": lambda rng: float(10 ** rng.uniform(-6.0, -3.0)),
            "epochs": [200, 400],
            "gbdt_rounds": [50, 150],
            "gbdt_depth": [3, 4],
            "chi2_percentile": [100, 50, 25, 10],
        }
        best, _ = search_params(fr, lb, dists, n_iter=6, n_folds=2, seed=0)
        return NodeClassifier.fit(fr, lb, **best)

    results["hashed-searched"] = loo_f1(
        fit_searched, lambda m, i: m.predict(frames[i]), frames, labels
    )

    # --- exact vectorization (M1-M4 reference semantics) -------------------
    from learnhtml_spark.gbdt import GBDTClassifier
    from learnhtml_spark.mlp import MLPClassifier
    from learnhtml_spark.selection import chi2_scores
    from learnhtml_spark.vectorize import ExactVectorizer

    def exact_loo(head: str, topk: int):
        """Reference pipeline shape: ExactVectorizer → MaxAbs → chi²
        top-k column SELECTION (SelectPercentile analog; also what makes
        a python GBDT feasible on a ~40k-dim exact vocabulary) → head."""
        yt, yp = [], []
        for i in range(len(frames)):
            tr = [j for j in range(len(frames)) if j != i]
            vec = ExactVectorizer(min_df=2).fit([frames[j] for j in tr])
            x = np.vstack([vec.transform(frames[j]) for j in tr])
            y = np.concatenate([labels[j] for j in tr]).astype(float)
            scale = np.abs(x).max(axis=0)
            scale[scale == 0] = 1.0
            x = x / scale
            stat = chi2_scores(x, np.zeros(0, np.int64), np.zeros(0, np.int64), y, 0)
            keep = np.argsort(-stat)[: min(topk, x.shape[1])]
            x = x[:, keep]
            n = len(y)
            pos, neg = max(y.sum(), 1.0), max(n - y.sum(), 1.0)
            sw = np.where(y > 0.5, n / (2 * pos), n / (2 * neg))
            if head == "gbdt":
                clf = GBDTClassifier.fit(x, y, n_rounds=60, depth=4, sample_weight=sw)
                pred = lambda xt: clf.predict_proba(xt) >= 0.5
            else:
                m = MLPClassifier(
                    hidden_layers=[64], epochs=120, batch_size=128, lr=3e-3, seed=0
                ).fit(x, y)
                pred = lambda xt: m.predict(xt)
            xt = (vec.transform(frames[i]) / scale)[:, keep]
            yt.append(np.asarray(labels[i], dtype=bool))
            yp.append(np.asarray(pred(xt), dtype=bool))
        return f1_score(np.concatenate(yt), np.concatenate(yp))

    for topk in (400, 150):
        results[f"exact-gbdt-top{topk}"] = exact_loo("gbdt", topk)
    for topk in (1500, 400):
        results[f"exact-mlp-top{topk}"] = exact_loo("mlp", topk)

    print("\nLOO micro-F1 on the 4 reference fixture pages:")
    for k, v in results.items():
        print(f"  {k:22s} {v:.3f}")


if __name__ == "__main__":
    main()
