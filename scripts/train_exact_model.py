"""Train and package the EXACT-vectorizer classifier artifact
(learnhtml_spark/artifacts/exact.npz).

MODEL.md's LOO study measured exact M1-M4 vectorization + chi² top-400 +
MLP at ≈0.5-0.6 cross-domain F1 vs the hashed path's 0.244 — this script
makes that configuration a shippable artifact the CLI can serve
(`extract --model exact.npz`), per VERDICT r3 #8.  Training corpus: the
one in ``learnhtml_spark.training`` that scripts/train_model.py uses (4
reference fixture pages LCS-labeled + a deterministic 40-page synthetic
slice for vocabulary/label balance), on the serving kernel's block rows.

Run from repo root: python scripts/train_exact_model.py
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    from learnhtml_spark.exact_model import ExactNodeClassifier
    from learnhtml_spark.training import (
        fixture_training_docs,
        synthetic_training_docs,
        training_pairs,
    )

    frames, labels = training_pairs(
        fixture_training_docs(), synthetic_training_docs(40)
    )

    t0 = time.time()
    model = ExactNodeClassifier.fit(
        frames, labels, min_df=1, topk=400, hidden=(64,), lr=3e-3,
        batch_size=64, epochs=150, seed=42,
    )
    n_rows = sum(len(f) for f in frames)
    print(
        f"fitted exact pipeline on {len(frames)} pages / {n_rows} block rows "
        f"in {time.time() - t0:.1f}s "
        f"({model.vec.n_features_} vocab features -> {len(model.keep)} kept)"
    )

    # training-fit sanity (NOT a generalization claim — MODEL.md measures
    # that honestly): report train-set block accuracy
    bad = sum(
        int(((model.predict(f) == 1) != (y == 1)).sum())
        for f, y in zip(frames, labels)
    )
    print(f"misclassified block rows on training corpus: {bad}/{n_rows}")

    path = os.path.join(REPO, "learnhtml_spark", "artifacts", "exact.npz")
    model.save(path)
    # round-trip check: byte-identical predictions after reload
    reloaded = ExactNodeClassifier.load(path)
    for f in frames[:2]:
        assert np.array_equal(model.predict(f), reloaded.predict(f))
    print("saved", path, os.path.getsize(path), "bytes (round-trip OK)")


if __name__ == "__main__":
    main()
