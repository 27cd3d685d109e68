"""Train and package the content classifier artifact.

Training corpus (``learnhtml_spark.training``): the 4 reference fixture
pages (labels from the LCS gold-standard path) + a deterministic slice of
80 synthetic pages built from the sf0.001 documents table (exact labels:
their content is known by construction).  Rows come from the serving
kernel's block featurizer, so the model records the input columns
serving builds.  The artifact (learnhtml_spark/artifacts/model.npz) ships
with the repo and is broadcast at inference.

Run from repo root: python scripts/train_model.py
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from learnhtml_spark.model import NodeClassifier
from learnhtml_spark.training import (
    fixture_training_docs,
    synthetic_training_docs,
    training_pairs,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_SYNTH = 80


def main():
    frames, labels = training_pairs(
        fixture_training_docs(), synthetic_training_docs(N_SYNTH)
    )
    t0 = time.time()
    model = NodeClassifier.fit(frames, labels, epochs=400, lr=1.0, l2=1e-5,
                               gbdt_rounds=200, gbdt_depth=4)
    print(f"trained on {len(frames)} docs in {time.time() - t0:.1f}s "
          f"({len(model.gbdt.trees)} trees)")

    # verify exact fit on the training corpus
    bad = sum(
        int(((model.predict(f) == 1) != (y == 1)).sum())
        for f, y in zip(frames, labels)
    )
    print("misclassified block rows on training corpus:", bad)

    out_dir = os.path.join(REPO, "learnhtml_spark", "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "model.npz")
    model.save(path)
    print("saved", path, os.path.getsize(path), "bytes")


if __name__ == "__main__":
    main()
