"""Broadcastable content-vs-boilerplate node classifier.

The reference trains an sklearn Pipeline (feature union of numeric
passthrough, one-hot tags and char-ngram tf-idf of class/id attributes into
LogisticRegression/LinearSVC/trees — learnhtml/model_selection.py:96-127).
This engine re-expresses that as a self-contained numpy model (no sklearn
in this environment) with the same feature *sources*:

- numeric columns of the node-feature frame (max-abs scaled, M5/M6),
- hashed one-hot of every tag column (M1),
- hashed word counts of descendant tag lists (M2),
- hashed char-3-grams of class/id text columns, camel-split (M3/M4, F6),

all folded into one hashing-trick space (stable crc32 — deterministic
across executors).  Hashed features are kept as sparse COO triplets —
never a dense (n x 16k) matrix — so scoring a 10k-node page inside the
extraction UDF stays allocation-light.  The fitted model is a handful of
numpy arrays: cheap to pickle, broadcast once per job, applied vectorized
inside the extraction UDF (reference J4/M8: the broadcast-model pattern).
"""

from __future__ import annotations

import functools
import io
import json
import re
import zlib

import numpy as np
import pandas as pd

HASH_DIM = 1 << 14

_RE_CAMEL = re.compile(r"(?<=[a-z])(?=[A-Z])")


def camel_case_split(s: str) -> str:
    """Insert spaces at lowercase->uppercase boundaries (reference F6)."""
    return _RE_CAMEL.sub(" ", s)


def _string_columns(df: pd.DataFrame) -> list[str]:
    return [c for c in df.columns if c != "path" and df[c].dtype == object]


def _numeric_columns(df: pd.DataFrame) -> list[str]:
    return [c for c in df.columns if c != "path" and df[c].dtype != object]


@functools.lru_cache(maxsize=500_000)
def _value_slots(col: str, v: str) -> np.ndarray:
    """Read-only hash slots of one column value: crc32(col + "=" + gram)
    per gram.  crc32 is streamable (crc32(a+b) == crc32(b, crc32(a))), so
    each gram only hashes its own bytes after the "col=" prefix's crc."""
    crc = zlib.crc32
    base = crc((col + "=").encode("utf-8", "ignore"))
    if col.endswith("tag"):
        grams = [v]
    elif col.endswith("tags"):
        grams = [tok for tok in v.split(",") if tok]
    else:  # class/id text: char 3-grams after camel split + lower
        padded = f" {camel_case_split(v).lower()} "
        grams = [padded[j : j + 3] for j in range(len(padded) - 2)]
    out = np.array(
        [crc(g.encode("utf-8", "ignore"), base) % HASH_DIM for g in grams],
        dtype=np.int64,
    )
    out.flags.writeable = False
    return out


def _input_names(df: pd.DataFrame) -> list[str]:
    return [c for c in df.columns if c != "path"]


def featurize_frame(df: pd.DataFrame, columns: list[str] | None = None):
    """Returns (x_num, rows, slots): dense numeric matrix plus sparse
    COO triplets of the hashed text features.

    ``columns``, a model's fitted input column names, selects and orders
    the frame's columns first; without it (a nameless artifact) every
    non-path column is read in frame order."""
    if columns is not None and _input_names(df) != columns:
        df = df[columns]
    num_cols = _numeric_columns(df)
    x_num = df[num_cols].to_numpy(dtype=np.float64, copy=True)

    # feature values repeat massively across rows (tag names, framework
    # class strings): hash each distinct value once per batch (the memo pays
    # it once per worker), then gather all rows' slots from their values'
    str_cols = _string_columns(df)
    per_value = [np.zeros(0, dtype=np.int64)]  # np.concatenate rejects []
    codes = [np.zeros(0, dtype=np.int64)]
    for col in str_cols:
        col_codes, uniques = pd.factorize(df[col])
        # code -1 (missing) reads the slots of "", appended last
        codes.append(np.where(col_codes < 0, len(uniques), col_codes) + len(per_value))
        per_value.extend(_value_slots(col, v) for v in [*uniques, ""])
    codes = np.concatenate(codes)
    lens = np.array([len(a) for a in per_value], dtype=np.int64)
    counts = lens[codes]
    rows = np.repeat(np.tile(np.arange(len(df), dtype=np.int64), len(str_cols)), counts)
    first = np.cumsum(lens) - lens  # each value's first slot in the concatenation
    pos = np.repeat(first[codes] - (np.cumsum(counts) - counts), counts)
    return x_num, rows, np.concatenate(per_value)[pos + np.arange(len(pos))]


def _logit(x_num, rows, slots, w_num, w_hash, bias) -> np.ndarray:
    """The linear stage's score: numeric weights plus the hashed slots'."""
    z = x_num @ w_num + bias
    np.add.at(z, rows, w_hash[slots])
    return z


class NodeClassifier:
    """Two-stage classifier: logistic regression over (scaled numeric ++
    hashed text) features, stacked into gradient-boosted trees over the
    numeric features + the logistic score (the reference's strongest
    configurations were tree ensembles, model_selection.py:80-93)."""

    def __init__(
        self,
        w_num=None,
        w_hash=None,
        bias=0.0,
        scale=None,
        threshold=0.5,
        gbdt=None,
        num_mask=None,
        columns=None,
    ):
        self.w_num = w_num
        self.w_hash = w_hash
        self.bias = bias
        self.scale = scale
        self.threshold = threshold
        self.gbdt = gbdt
        #: chi2-dropped numeric columns (1.0 = kept); applied at inference
        #: so serving sees exactly the zeroed columns training saw
        self.num_mask = num_mask
        #: ordered input column names the model was fit on (None for a
        #: nameless legacy artifact, which reads columns by position)
        self.columns = columns
        #: optional deep head (M8 variant; serialized with the MLP's own
        #: npz codec — the packaged npz model ships the GBDT head)
        self.mlp = None

    # -- training ----------------------------------------------------------
    @classmethod
    def fit(
        cls,
        frames: list[pd.DataFrame],
        labels: list[np.ndarray],
        epochs: int = 400,
        lr: float = 0.5,
        l2: float = 1e-4,
        seed: int = 42,
        gbdt_rounds: int = 150,
        gbdt_depth: int = 4,
        chi2_percentile: float = 100,
        head: str = "gbdt",
        mlp_params: dict | None = None,
    ) -> "NodeClassifier":
        columns = _input_names(frames[0])
        xs_num, rr, ss = [], [], []
        offset = 0
        for f in frames:
            if set(_input_names(f)) != set(columns):
                diff = sorted(set(columns) ^ set(_input_names(f)))
                raise ValueError(f"training frames disagree on columns {diff}")
            if not len(f):
                continue  # no rows (a page without blocks): nothing to fit
            xn, r, s = featurize_frame(f, columns)
            xs_num.append(xn)
            rr.append(r + offset)
            ss.append(s)
            offset += len(f)
        x_num = np.vstack(xs_num)
        rows = np.concatenate(rr) if rr else np.zeros(0, np.int64)
        slots = np.concatenate(ss) if ss else np.zeros(0, np.int64)
        y = np.concatenate([np.asarray(l, dtype=np.float64) for l in labels])

        scale = np.abs(x_num).max(axis=0)
        scale[scale == 0] = 1.0
        x_num = x_num / scale

        num_mask = None
        if chi2_percentile < 100:
            # M7: SelectPercentile(chi2) analog (reference
            # model_selection.py:123) over [numeric ++ hashed] post-scaler.
            # Dropped hashed slots simply lose their training entries (their
            # weights stay 0, so inference needs no mask); dropped numeric
            # columns are zeroed here AND at inference (num_mask on the
            # model) — without the serving-side mask, heads with non-zero
            # weights on never-trained inputs (the MLP's Xavier init; the
            # logistic's l2-decayed-but-nonzero weights) would see garbage
            # contributions at predict time (ADVICE r2).
            from learnhtml_spark.selection import (
                chi2_percentile_mask,
                chi2_scores,
            )

            stat = chi2_scores(x_num, rows, slots, y, HASH_DIM)
            mask = chi2_percentile_mask(stat, chi2_percentile)
            n_num_cols = x_num.shape[1]
            num_mask = mask[:n_num_cols].astype(np.float64)
            x_num[:, ~mask[:n_num_cols]] = 0.0
            keep = mask[n_num_cols:][slots]
            rows, slots = rows[keep], slots[keep]

        n = len(y)
        pos = max(y.sum(), 1.0)
        neg = max(n - y.sum(), 1.0)
        # sklearn-style 'balanced' class weights (reference A5)
        w_pos, w_neg = n / (2.0 * pos), n / (2.0 * neg)
        sample_w = np.where(y > 0.5, w_pos, w_neg)

        rng = np.random.default_rng(seed)
        w_n = rng.normal(0, 0.01, x_num.shape[1])
        w_h = np.zeros(HASH_DIM, dtype=np.float64)
        b = 0.0
        for _ in range(epochs):
            z = _logit(x_num, rows, slots, w_n, w_h, b)
            p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
            g = (p - y) * sample_w / n
            w_n -= lr * (x_num.T @ g + l2 * w_n)
            gh = np.zeros(HASH_DIM, dtype=np.float64)
            np.add.at(gh, slots, g[rows])
            w_h -= lr * (gh + l2 * w_h)
            b -= lr * g.sum()
        model = cls(w_n, w_h, float(b), scale, num_mask=num_mask, columns=columns)

        # the heads stack on [scaled numeric ++ logit score]
        x_stack = np.column_stack([x_num, _logit(x_num, rows, slots, w_n, w_h, b)])
        if head == "mlp":
            # M8 deep variant (reference utils/keras.py create_model via
            # DEEP_TUNABLE): numpy MLP
            from learnhtml_spark.mlp import MLPClassifier

            model.mlp = MLPClassifier(**(mlp_params or {})).fit(x_stack, y)
        elif gbdt_rounds > 0:
            from learnhtml_spark.gbdt import GBDTClassifier

            model.gbdt = GBDTClassifier.fit(
                x_stack,
                y,
                n_rounds=gbdt_rounds,
                depth=gbdt_depth,
                sample_weight=sample_w,
            )
        return model

    # -- inference -----------------------------------------------------------
    def input_columns(self) -> list[str] | int:
        """The frame columns this model reads: its fitted names, or for a
        nameless artifact how many numeric columns it reads in order."""
        return self.columns if self.columns is not None else len(self.scale)

    def _logit_and_numeric(self, frame: pd.DataFrame):
        x_num, rows, slots = featurize_frame(frame, self.columns)
        x_scaled = x_num / self.scale
        if self.num_mask is not None:
            x_scaled = x_scaled * self.num_mask  # train/serve parity (M7)
        return x_scaled, _logit(
            x_scaled, rows, slots, self.w_num, self.w_hash, self.bias
        )

    def predict_proba(self, frame: pd.DataFrame) -> np.ndarray:
        x_scaled, z = self._logit_and_numeric(frame)
        if self.mlp is not None:
            return self.mlp.predict_proba(np.column_stack([x_scaled, z]))
        if self.gbdt is not None:
            return self.gbdt.predict_proba(np.column_stack([x_scaled, z]))
        return 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))

    def predict(self, frame: pd.DataFrame) -> np.ndarray:
        return (self.predict_proba(frame) >= self.threshold).astype(np.int64)

    # -- (de)serialization ----------------------------------------------------
    def to_bytes(self) -> bytes:
        buf = io.BytesIO()
        payload = dict(
            w_num=self.w_num,
            w_hash=self.w_hash,
            bias=np.float64(self.bias),
            scale=self.scale,
            threshold=np.float64(self.threshold),
        )
        if self.num_mask is not None:
            payload["num_mask"] = self.num_mask
        if self.columns is not None:
            payload["input_columns_json"] = np.array(json.dumps(self.columns))
        if self.gbdt is not None:
            payload.update(self.gbdt.to_arrays())
        if self.mlp is not None:
            mlp_meta, mlp_arrays = self.mlp.to_arrays()
            payload.update(mlp_arrays, mlp_meta_json=np.array(json.dumps(mlp_meta)))
        # uncompressed: executors deserialize this per worker; load speed
        # matters more than a few hundred KB of broadcast size
        np.savez(buf, **payload)
        return buf.getvalue()

    @classmethod
    def from_bytes(cls, data: bytes) -> "NodeClassifier":
        with np.load(io.BytesIO(data)) as z:
            model = cls(
                z["w_num"],
                z["w_hash"],
                float(z["bias"]),
                z["scale"],
                float(z["threshold"]),
            )
            if "num_mask" in z:
                model.num_mask = z["num_mask"]
            if "input_columns_json" in z:
                model.columns = json.loads(str(z["input_columns_json"]))
            if "tree_sizes" in z:
                from learnhtml_spark.gbdt import GBDTClassifier

                model.gbdt = GBDTClassifier.from_arrays(z)
            if "mlp_meta_json" in z:
                from learnhtml_spark.mlp import MLPClassifier

                meta = json.loads(str(z["mlp_meta_json"]))
                model.mlp = MLPClassifier.from_arrays(meta, z)
            return model

    def save(self, path: str):
        with open(path, "wb") as f:
            f.write(self.to_bytes())

    @classmethod
    def load(cls, path: str) -> "NodeClassifier":
        with open(path, "rb") as f:
            return cls.from_bytes(f.read())
