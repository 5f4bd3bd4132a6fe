"""Result comparison of the analytics correctness gate.

Mirrors scripts/check.py: columns sorted by name, then equal column
names, equal row counts and exactly equal values row by row (NaN equals
NaN, null equals null).
"""
import math

import numpy as np
import pandas as pd


def cell_eq(a, b):
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        return np.array_equal(np.asarray(a), np.asarray(b))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(spark_df, duck_df):
    """Returns None when the frames match, else the first difference."""
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    d = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    sv, dv = s.values, d.values
    for i in range(len(sv)):
        for j in range(sv.shape[1]):
            if not cell_eq(sv[i][j], dv[i][j]):
                return (f"row {i} col {s.columns[j]}: "
                        f"spark={sv[i][j]!r} duck={dv[i][j]!r}")
    return None
