"""String similarity shared by entity linking and TruthFinder.

  jaro_py  : Jaro similarity of two Python strings (the driver-side scorer)
  jaro_udf : the same function as an Arrow-batched pandas UDF over two
             string columns (None scores as the empty string)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def jaro_py(s1: str, s2: str) -> float:
    """Jaro similarity, matching the reference's variant exactly
    (models/utils.py:32-68): greedy in-window matching, transpositions
    counted via ordered matched characters, t // 2."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    max_dist = max(len1, len2) // 2 - 1
    matched2 = [False] * len2
    matched1 = [False] * len1
    match = 0
    for i in range(len1):
        for j in range(max(0, i - max_dist), min(len2, i + max_dist + 1)):
            if s1[i] == s2[j] and not matched2[j]:
                matched1[i] = True
                matched2[j] = True
                match += 1
                break
    if match == 0:
        return 0.0
    t = 0
    point = 0
    for i in range(len1):
        if matched1[i]:
            while not matched2[point]:
                point += 1
            if s1[i] != s2[point]:
                t += 1
            point += 1
    t //= 2
    return (match / len1 + match / len2 + (match - t) / match) / 3.0


@pandas_udf(T.DoubleType())
def jaro_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [jaro_py(x if x is not None else "", y if y is not None else "")
         for x, y in zip(a, b)],
        dtype="float64",
    )
