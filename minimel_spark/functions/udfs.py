"""Vectorized pandas/Arrow UDF wrappers around the pure functions.

North rule: no per-row Python UDFs anywhere — every wrapper here is a pandas UDF
(Arrow batch transfer, JVM<->Python once per ~10k rows, not once per row).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T

from .normalize import char_shingles, normalize


def normalize_lang_udf(language: str | None):
    """normalize with a fixed stemming language (closure per pipeline config)."""

    @F.pandas_udf(T.StringType())
    def _udf(anchors: pd.Series) -> pd.Series:
        return anchors.map(lambda a: normalize(a, language=language), na_action="ignore")

    return _udf


@F.pandas_udf(T.ArrayType(T.StringType()))
def shingles_udf(names: pd.Series) -> pd.Series:
    """Char-3gram shingles (P5, minimel/clean.py:65-72), sorted for determinism."""
    return names.map(lambda s: sorted(char_shingles(s)), na_action="ignore")
