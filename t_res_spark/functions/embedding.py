"""Hashed char-trigram string embeddings, the stand-in for the
reference's DeezyMatch GRU encoder (utils/deezy_processing.py:316-443):
one encoder for ranking's ``embcosine`` queries, the context model and
the fixture generator's embeddings table, so query and KB vectors agree.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

EMB_DIM = 32


def hashed_ngram_embedding(key: str, dim: int = EMB_DIM) -> np.ndarray:
    """Deterministic char-trigram hashed embedding (float32, unit-ish):
    md5(trigram) picks (index, sign). Similar strings share trigrams →
    high cosine; corruptions perturb a few trigrams → still close. Zero
    model weights, fully reproducible on any cluster."""
    v = np.zeros(dim, dtype=np.float64)
    s = f"^{key.lower()}$"
    for i in range(len(s) - 2):
        tri = s[i : i + 3]
        h = hashlib.md5(tri.encode("utf-8")).digest()
        idx = h[0] % dim
        sign = 1.0 if h[1] % 2 == 0 else -1.0
        v[idx] += sign
    n = np.linalg.norm(v)
    if n > 0:
        v /= n
    return v.astype(np.float32)


@pandas_udf(T.ArrayType(T.FloatType()))
def embed_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched ``hashed_ngram_embedding`` over a string column."""
    return s.astype(str).map(lambda x: hashed_ngram_embedding(x).tolist())
