"""X5 (bit-compatible route) — inference that reproduces the reference's
sklearn pipeline EXACTLY, so predictions match its shipped joblib models
(run_build_database.py:322-336: ``HashingVectorizer(strip_accents=
'unicode', lowercase=True, analyzer='word', n_features=1000, norm='l2')``
feeding a LogisticRegression loaded from joblib).

The pyspark.ml route (x17a5_spark/ml/classifier.py) is the train-on-Spark path, but
its HashingTF uses a different hash than sklearn's MurmurHash3, so its
feature space — and therefore its predictions — cannot match a model
trained in sklearn. This module closes that gap without requiring
sklearn on the cluster: the vectorizer (murmur3-x86-32 signed hash,
alternate-sign, abs-mod indexing, unicode accent strip, ``\\b\\w\\w+\\b``
tokens, l2 norm) and the logistic-regression forward pass are
reimplemented in numpy from the published algorithm, and the model's
(classes, coef, intercept) arrays ride a broadcast into an Arrow-batched
pandas UDF — the SURVEY §7 "broadcast-joblib" shape. When sklearn IS
importable, tests cross-check token-for-token and probability-for-
probability against it; without it, MurmurHash3 is pinned to its
published reference vectors.
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_FEATURES = 1000
_TOKEN_RE = re.compile(r"(?u)\b\w\w+\b")
_M32 = 0xFFFFFFFF


def murmurhash3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86_32 (Austin Appleby's public algorithm), unsigned.
    This is the hash behind sklearn's FeatureHasher."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _M32
    n_blocks = len(data) // 4
    for i in range(n_blocks):
        k = int.from_bytes(data[4 * i : 4 * i + 4], "little")
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    tail = data[4 * n_blocks :]
    k = 0
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h


def murmurhash3_32_signed(data: bytes, seed: int = 0) -> int:
    """Two's-complement int32 view (sklearn's murmurhash3_bytes_s32)."""
    h = murmurhash3_32(data, seed)
    return h - (1 << 32) if h >= (1 << 31) else h


def strip_accents_unicode(s: str) -> str:
    """sklearn.feature_extraction.text.strip_accents_unicode semantics:
    NFKD-normalize, drop combining marks."""
    norm = unicodedata.normalize("NFKD", s)
    if norm == s:
        return s
    return "".join(c for c in norm if not unicodedata.combining(c))


def tokenize(text: str) -> list[str]:
    """The HashingVectorizer word analyzer with the reference's params:
    lowercase -> unicode accent strip -> ``(?u)\\b\\w\\w+\\b`` tokens."""
    return _TOKEN_RE.findall(strip_accents_unicode(text.lower()))


@lru_cache(maxsize=1 << 16)
def _token_slot(token: str, n_features: int) -> tuple[int, int]:
    """(index, sign) for one token — FeatureHasher with
    alternate_sign=True: signed murmur3, sign from the hash's sign,
    index = abs(hash) % n_features. Cached: line-item vocabulary is
    small relative to row count."""
    h = murmurhash3_32_signed(token.encode("utf-8"))
    sign = 1 if h >= 0 else -1
    return abs(h) % n_features, sign


def hashing_vectorize(
    texts: pd.Series, n_features: int = N_FEATURES
) -> np.ndarray:
    """Dense (len(texts), n_features) float64 matrix, each row
    l2-normalized — HashingVectorizer.transform on a batch."""
    out = np.zeros((len(texts), n_features), dtype=np.float64)
    for i, text in enumerate(texts):
        if text is None:
            continue
        for tok in tokenize(str(text)):
            j, sign = _token_slot(tok, n_features)
            out[i, j] += sign
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out


@dataclass(frozen=True)
class LogRegParams:
    """The arrays inside a fitted sklearn LogisticRegression — exactly
    what ``joblib.load(...)`` exposes as .classes_/.coef_/.intercept_.
    Extract once on the driver; the arrays broadcast to executors."""

    classes: tuple[str, ...]
    coef: np.ndarray  # (n_classes, n_features); (1, n_features) binary
    intercept: np.ndarray  # (n_classes,); (1,) binary

    @classmethod
    def from_sklearn(cls, model) -> "LogRegParams":
        return cls(
            classes=tuple(str(c) for c in model.classes_),
            coef=np.asarray(model.coef_, dtype=np.float64),
            intercept=np.asarray(model.intercept_, dtype=np.float64),
        )


def predict_proba(X: np.ndarray, params: LogRegParams) -> np.ndarray:
    """(n, n_classes) probabilities: sigmoid for binary models, softmax
    for multinomial — sklearn's predict_proba for lbfgs-family solvers
    (the reference's default)."""
    scores = X @ params.coef.T + params.intercept
    if params.coef.shape[0] == 1:  # binary: classes [neg, pos]
        p1 = 1.0 / (1.0 + np.exp(-scores[:, 0]))
        return np.column_stack([1.0 - p1, p1])
    scores -= scores.max(axis=1, keepdims=True)
    np.exp(scores, out=scores)
    scores /= scores.sum(axis=1, keepdims=True)
    return scores


def sklearn_predict_labels(
    lineitems: DataFrame, params: LogRegParams, n_features: int = N_FEATURES
) -> DataFrame:
    """Distinct line items in, (lineitem, label, max_score) out — the
    bit-compat twin of x17a5_spark/ml/classifier.py::predict_labels. The params
    ride the UDF closure (a broadcast under the hood); each Arrow batch
    is vectorized end-to-end in numpy."""
    classes = np.asarray(params.classes)

    def score_batch(batch: pd.Series) -> pd.DataFrame:
        X = hashing_vectorize(batch, n_features)
        proba = predict_proba(X, params)
        best = proba.argmax(axis=1)
        return pd.DataFrame(
            {"label": classes[best], "max_score": proba[np.arange(len(best)), best]}
        )

    udf = F.pandas_udf(score_batch, "label string, max_score double")
    distinct = lineitems.select("lineitem").dropDuplicates(["lineitem"])
    scored = distinct.withColumn("_p", udf(F.col("lineitem")))
    return scored.select(
        "lineitem", F.col("_p.label").alias("label"), F.col("_p.max_score").alias("max_score")
    )
