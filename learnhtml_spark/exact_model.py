"""Exact-vectorizer node classifier — the measured-better training
pipeline (MODEL.md: exact M1-M4 semantics + chi² top-k + MLP doubled
cross-domain LOO F1 vs the hashed path) packaged as a LOADABLE artifact,
not just a study.

Pipeline (reference model_selection.py:96-127 semantics, from-scratch):
``ExactVectorizer`` (M1 LabelBinarizer one-hots, M2 word-TF, M3/M4
char_wb-3gram TF, M5 numeric) → MaxAbs scale (M6) → chi² top-k column
selection (M7) → numpy MLP head (M8).  Everything serializes to one npz
(vocabulary as JSON, weights as arrays) with the same
``to_bytes``/``from_bytes``/``predict`` surface as ``NodeClassifier``, so
``extract_content_spans`` broadcasts it unchanged and the CLI loads it via
``--model exact.npz`` (VERDICT r3 #8).

Scale note: the exact vectorizer carries a corpus-fitted VOCABULARY
(size-unbounded in general), which is why the default 100 TB serving
model stays hashed; this artifact is for the quality-sensitive path where
the vocabulary is fitted on a curated corpus and shipped like any other
model constant.
"""

from __future__ import annotations

import io
import json

import numpy as np
import pandas as pd

from learnhtml_spark.mlp import MLPClassifier
from learnhtml_spark.model import NodeClassifier
from learnhtml_spark.selection import chi2_scores
from learnhtml_spark.vectorize import ExactVectorizer


class ExactNodeClassifier:
    """ExactVectorizer → MaxAbs → chi² top-k → MLP, with the
    ``NodeClassifier`` predict/serialize surface."""

    def __init__(self, vec, scale, keep, mlp, threshold: float = 0.5):
        self.vec = vec
        self.scale = scale
        self.keep = keep  # int indices of kept columns (chi² top-k order-free)
        self.mlp = mlp
        self.threshold = threshold

    # -- training ----------------------------------------------------------
    @classmethod
    def fit(
        cls,
        frames: list[pd.DataFrame],
        labels: list[np.ndarray],
        min_df: int = 1,
        topk: int = 400,
        hidden=(64,),
        lr: float = 3e-3,
        batch_size: int = 64,
        epochs: int = 150,
        dropout=None,
        seed: int = 42,
    ) -> "ExactNodeClassifier":
        vec = ExactVectorizer(min_df=min_df).fit(frames)
        x = np.vstack([vec.transform(f) for f in frames])
        y = np.concatenate([np.asarray(l, dtype=np.float64) for l in labels])
        scale = np.abs(x).max(axis=0)
        scale[scale == 0] = 1.0
        x = x / scale
        stat = chi2_scores(x, np.zeros(0, np.int64), np.zeros(0, np.int64), y, 0)
        keep = np.sort(np.argsort(-stat)[: min(topk, x.shape[1])])
        mlp = MLPClassifier(
            hidden_layers=list(hidden),
            lr=lr,
            batch_size=batch_size,
            epochs=epochs,
            dropout=dropout,
            seed=seed,
        ).fit(x[:, keep], y)
        return cls(vec, scale, keep.astype(np.int64), mlp)

    # -- inference ---------------------------------------------------------
    def _features(self, frame: pd.DataFrame) -> np.ndarray:
        return (self.vec.transform(frame) / self.scale)[:, self.keep]

    def predict_proba(self, frame: pd.DataFrame) -> np.ndarray:
        return self.mlp.predict_proba(self._features(frame))

    def predict(self, frame: pd.DataFrame) -> np.ndarray:
        return (self.predict_proba(frame) >= self.threshold).astype(np.int64)

    # -- (de)serialization -------------------------------------------------
    def to_bytes(self) -> bytes:
        mlp_meta, mlp_arrays = self.mlp.to_arrays()
        meta = dict(
            min_df=self.vec.min_df,
            tag_vocab=self.vec.tag_vocab_,
            tags_vocab=self.vec.tags_vocab_,
            text_vocab=self.vec.text_vocab_,
            numeric_cols=self.vec.numeric_cols_,
            n_features=self.vec.n_features_,
            mlp=mlp_meta,
            threshold=self.threshold,
        )
        payload = {
            "exact_meta_json": np.array(json.dumps(meta)),
            "scale": self.scale,
            "keep": self.keep,
            **mlp_arrays,
        }
        buf = io.BytesIO()
        np.savez(buf, **payload)
        return buf.getvalue()

    @classmethod
    def from_bytes(cls, data: bytes) -> "ExactNodeClassifier":
        with np.load(io.BytesIO(data)) as z:
            meta = json.loads(str(z["exact_meta_json"]))
            vec = ExactVectorizer(min_df=meta["min_df"])
            vec.tag_vocab_ = meta["tag_vocab"]
            vec.tags_vocab_ = meta["tags_vocab"]
            vec.text_vocab_ = meta["text_vocab"]
            vec.numeric_cols_ = meta["numeric_cols"]
            vec.n_features_ = meta["n_features"]
            return cls(
                vec,
                z["scale"],
                z["keep"],
                MLPClassifier.from_arrays(meta["mlp"], z),
                float(meta.get("threshold", 0.5)),
            )

    def save(self, path: str):
        with open(path, "wb") as f:
            f.write(self.to_bytes())

    @classmethod
    def load(cls, path: str) -> "ExactNodeClassifier":
        with open(path, "rb") as f:
            return cls.from_bytes(f.read())


def load_any_model(data: bytes):
    """Artifact dispatcher: the npz either carries the exact pipeline
    (``exact_meta_json`` marker) or the hashed production model."""
    with np.load(io.BytesIO(data)) as z:
        is_exact = "exact_meta_json" in z
    if is_exact:
        return ExactNodeClassifier.from_bytes(data)
    return NodeClassifier.from_bytes(data)


def load_any_model_path(path: str):
    with open(path, "rb") as f:
        return load_any_model(f.read())
