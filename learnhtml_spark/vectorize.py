"""Exact (vocabulary-based) feature vectorization — reference M1-M4 parity.

The production path hashes text features (model.featurize_frame — scale-
safe, vocabulary-free).  This module reproduces the reference's EXACT
training-time vectorization (model_selection.py:191-247) so the delta
between hashed and exact semantics is measurable (scripts/loo_study.py,
MODEL.md):

- M1 ``*tag`` columns → LabelBinarizer one-hot (2 classes → 1 column,
  k>2 → k columns, 1 class → zero column), per column.
- M2 ``*tags`` columns → TfidfVectorizer(analyzer='word', 1-grams,
  use_idf=False): lowercased ``\\b\\w+\\b`` token counts, L2-normalized
  per row, per column.
- M3/M4 ``class_text``/``id_text``/``*classes``/``*ids`` columns →
  TfidfVectorizer(analyzer='char_wb', 3-grams, use_idf=False,
  preprocessor=camel_case_split): NO lowercasing (a custom preprocessor
  replaces sklearn's lowercase step), each whitespace word padded with
  single spaces then 3-grammed, counts L2-normalized per row.
- M5 numeric passthrough; M6 MaxAbsScaler over the full union is applied
  by the consumer.

Dense output — this is the small-data training/evaluation path (the
reference fitted sklearn in memory too); the cluster path stays hashed.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from learnhtml_spark.model import camel_case_split

_RE_WORD = re.compile(r"\b\w+\b")
_RE_WS = re.compile(r"\s\s+")


def _word_tokens(s: str) -> list[str]:
    return _RE_WORD.findall(s.lower())


def _char_wb_3grams(s: str) -> list[str]:
    """sklearn CountVectorizer._char_wb_ngrams for ngram_range=(3,3)."""
    s = _RE_WS.sub(" ", s)
    out = []
    for w in s.split():
        w = " " + w + " "
        w_len = len(w)
        offset = 0
        out.append(w[offset : offset + 3])
        while offset + 3 < w_len:
            offset += 1
            out.append(w[offset : offset + 3])
    return out


def _text_grams(s: str) -> list[str]:
    return _char_wb_3grams(camel_case_split(s))


def _vocab(vals, tokens, min_df: int) -> dict[str, int]:
    """Sorted-token index of the tokens found in >= ``min_df`` values."""
    df_count: dict[str, int] = {}
    for v in vals:
        for t in set(tokens(v)):
            df_count[t] = df_count.get(t, 0) + 1
    return {t: i for i, t in enumerate(sorted(t for t, n in df_count.items() if n >= min_df))}


def _is_tag_col(c):
    return c.endswith("tag")


def _is_tags_col(c):
    return c.endswith("tags")


def _is_text_col(c):
    return (
        c.endswith("class_text")
        or c.endswith("id_text")
        or c.endswith("classes")
        or c.endswith("ids")
    )


class ExactVectorizer:
    """fit on a list of frames, transform each frame to a dense float64
    matrix: [tag one-hots ++ tags TF(L2) ++ char_wb-3gram TF(L2) ++
    numeric], column blocks ordered like the reference FeatureUnion."""

    def __init__(self, min_df: int = 1):
        #: drop grams/tokens appearing in fewer than min_df rows
        #: (sklearn CountVectorizer min_df semantics)
        self.min_df = min_df
        self.tag_vocab_: dict[str, list[str]] = {}
        self.tags_vocab_: dict[str, dict[str, int]] = {}
        self.text_vocab_: dict[str, dict[str, int]] = {}
        self.numeric_cols_: list[str] = []
        self.n_features_: int = 0

    # -- fit -----------------------------------------------------------------
    def fit(self, frames: list[pd.DataFrame]) -> "ExactVectorizer":
        df = pd.concat(frames, ignore_index=True)
        cols = [c for c in df.columns if c != "path"]
        for c in cols:
            if df[c].dtype != object:
                continue
            vals = df[c].fillna("").astype(str)
            if _is_tag_col(c):
                self.tag_vocab_[c] = sorted(set(vals))
            elif _is_tags_col(c):
                self.tags_vocab_[c] = _vocab(vals, _word_tokens, self.min_df)
            elif _is_text_col(c):
                self.text_vocab_[c] = _vocab(vals, _text_grams, self.min_df)
        self.numeric_cols_ = [c for c in cols if df[c].dtype != object]
        self.n_features_ = (
            sum(
                (1 if len(v) <= 2 else len(v))
                for v in self.tag_vocab_.values()
            )
            + sum(len(v) for v in self.tags_vocab_.values())
            + sum(len(v) for v in self.text_vocab_.values())
            + len(self.numeric_cols_)
        )
        return self

    # -- transform -------------------------------------------------------------
    def transform(self, frame: pd.DataFrame) -> np.ndarray:
        """Dense features of ``frame``, which must carry every fitted
        column (a missing one raises ``KeyError``, never reads as zeros)."""
        n = len(frame)
        out = np.zeros((n, self.n_features_))
        off = 0
        for c, classes in self.tag_vocab_.items():
            vals = frame[c].fillna("").astype(str).tolist()
            if len(classes) <= 2:  # LabelBinarizer binary/degenerate: 1 col
                pos = classes[-1] if classes else None
                for i, v in enumerate(vals):
                    out[i, off] = 1.0 if (pos is not None and v == pos) else 0.0
                off += 1
            else:
                idx = {t: j for j, t in enumerate(classes)}
                for i, v in enumerate(vals):
                    j = idx.get(v)
                    if j is not None:
                        out[i, off + j] = 1.0
                off += len(classes)
        for vocabs, tokens in (
            (self.tags_vocab_, _word_tokens), (self.text_vocab_, _text_grams)
        ):
            for c, vocab in vocabs.items():
                vals = frame[c].fillna("").astype(str).tolist()
                for i, v in enumerate(vals):
                    row = {}
                    for t in tokens(v):
                        j = vocab.get(t)
                        if j is not None:
                            row[j] = row.get(j, 0.0) + 1.0
                    if row:
                        norm = np.sqrt(sum(x * x for x in row.values()))
                        for j, x in row.items():
                            out[i, off + j] = x / norm
                off += len(vocab)
        for k, c in enumerate(self.numeric_cols_):
            out[:, off + k] = frame[c].to_numpy(dtype=np.float64)
        return out
