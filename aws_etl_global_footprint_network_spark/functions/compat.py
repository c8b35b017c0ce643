"""Cross-engine numeric compatibility helpers.

``round_compat``: DuckDB rounds doubles by scaling then
half-away-from-zero on the SCALED DOUBLE (``round(x*10^n)/10^n``),
while Spark's ``round`` applies HALF_UP to the exact BigDecimal of
the unscaled binary value. For values a few ulps from a ``.xx5``
boundary the two disagree (observed in practice: one revenue group
rounded to 52298.92 vs 52298.93). Emulating the scaled form in Spark
— ``round(x * 10^n, 0) / 10^n`` — matches DuckDB on 35k adversarial
boundary values (0 mismatches; plain ``round`` mismatched 6%).

Use this for every float column the DuckDB oracle will hash.

``round_compat_np``: the same rounding for numpy arrays, for Arrow
kernels and driver-side closes whose output the oracle hashes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def round_compat(c: Column | str, n: int = 0) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    scale = F.lit(float(10**n))
    return F.round(col * scale, 0) / scale


def round_compat_np(x, n: int = 0) -> np.ndarray:
    """Exact elementwise mirror of ``round_compat(x, n)``: Spark
    rounds the scaled double with HALF_UP on its exact binary value.
    For w >= 0, ``w - floor(w)`` is IEEE-exact (Sterbenz), so
    ``floor(w) + (frac >= 0.5)`` IS HALF_UP — no ``floor(w + 0.5)``,
    which misrounds values one ulp under a half (e.g.
    0.49999999999999994). Negatives round away from zero; ``+ 0.0``
    normalises -0.0 to the +0.0 Spark's BigDecimal path emits."""
    scale = float(10**n)
    w = np.asarray(x, dtype=np.float64) * scale
    a = np.abs(w)
    f = np.floor(a)
    r = f + (a - f >= 0.5)
    return (np.where(w < 0.0, -r, r) + 0.0) / scale
