"""round_compat_np, the numpy mirror of round_compat, agrees with
Spark's round_compat bit for bit, signed zeros included."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from aws_etl_global_footprint_network_spark.functions.compat import (
    round_compat,
    round_compat_np,
)

DIGITS = (2, 6, 8)
# 0.5e-2 one ulp low: floor(|w| + 0.5) rounds it up to 0.01, while
# HALF_UP on the exact scaled double (Spark, DuckDB) gives 0.0
EXPLICIT = [0.004999999999999999, -0.004999999999999999, 0.0, -0.0]


def _near_half(t):
    """A value a few ulps from a half at ``digits`` decimal places."""
    k, digits, ulps = t
    x = (k + 0.5) / 10**digits
    for _ in range(abs(ulps)):
        x = math.nextafter(x, math.copysign(math.inf, ulps))
    return x


values = st.lists(
    st.one_of(
        st.floats(-1e9, 1e9, allow_nan=False, allow_infinity=False),
        st.tuples(
            st.integers(-(10**7), 10**7), st.sampled_from(DIGITS), st.integers(-3, 3)
        ).map(_near_half),
    ),
    min_size=1,
    max_size=200,
)


@settings(max_examples=25, deadline=None)
@given(drawn=values)
def test_round_compat_np_matches_spark(spark, drawn):
    xs = EXPLICIT + drawn
    df = spark.createDataFrame(list(enumerate(xs)), "i int, x double")
    rows = sorted(
        df.select("i", *[round_compat("x", n).alias(f"r{n}") for n in DIGITS])
        .collect()
    )
    for n in DIGITS:
        want = [repr(r[f"r{n}"]) for r in rows]
        got = [repr(float(v)) for v in round_compat_np(np.array(xs), n)]
        assert got == want, n
