"""Declared Pandas-UDF surface (SURVEY.md §2.10): the Arrow-batched
slow-path escape hatches, for semantics the built-in functions can't
express. Everything here is vectorized per batch — never row-at-a-time
Python in a hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


@F.pandas_udf("double")
def geometric_mean(v: pd.Series) -> float:
    """Grouped-agg pandas UDF: exp(mean(log x)) over positive values.
    (No built-in geometric mean in Spark SQL.)"""
    x = v[v > 0]
    if len(x) == 0:
        return float("nan")
    return float(np.exp(np.log(x.to_numpy(dtype="float64")).mean()))


@F.pandas_udf("double")
def winsorized_mean(v: pd.Series) -> float:
    """Grouped-agg pandas UDF: mean after clipping to the [5%, 95%]
    quantiles — robust location estimate for spiky price streams."""
    if len(v) == 0:
        return float("nan")
    x = v.to_numpy(dtype="float64")
    lo, hi = np.quantile(x, [0.05, 0.95])
    return float(np.clip(x, lo, hi).mean())
