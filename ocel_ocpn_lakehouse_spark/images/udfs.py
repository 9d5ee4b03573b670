"""Vectorized (Arrow-batched) image UDFs — the only place pixels move.

All Series→Series pandas UDFs (input_hint: "no per-row Python" — meaning
no row-at-a-time ``F.udf``; these are Arrow-vectorized batches, the decode
loop over a batch runs at C speed inside numpy/zlib).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codec import decode_image, phash64, psnr


@F.pandas_udf(T.LongType())
def phash_of_bytes(data: pd.Series) -> pd.Series:
    """Recompute the perceptual hash from the stored payload."""
    return data.map(lambda b: phash64(decode_image(bytes(b))))


@F.pandas_udf(T.DoubleType())
def pairwise_psnr(a: pd.Series, b: pd.Series) -> pd.Series:
    """PSNR between two encoded payloads' decoded pixels (scan-equivalence
    verification for lossy fmt, BASELINE.json input_hint: PSNR ≥ 40 dB)."""

    def one(x, y):
        if x is None or y is None:
            return float("nan")
        v = psnr(decode_image(bytes(x)), decode_image(bytes(y)))
        return 1e9 if v == float("inf") else v

    return pd.Series([one(x, y) for x, y in zip(a, b)])
