"""One-row var/std/sem (``p_std``/``p_var``/``p_sem``, ``agg_stats``,
``p_agg``, ``describe_exact``'s std row) come from one exact-moment
kernel: the variance is the correctly rounded value of the exact
``Fraction`` variance, whatever the partitioning, and the edge cases keep
Spark's NULL/NaN outputs."""

from __future__ import annotations

import math
import os
import sys
from fractions import Fraction

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallel_pandas_spark.api import ParallelFrame  # noqa: E402
from parallel_pandas_spark.operators import reductions  # noqa: E402
from parallel_pandas_spark.sources import from_pandas  # noqa: E402


def _exact_var(xs, ddof: int) -> float:
    fs = [Fraction(x) for x in xs]
    n, s1 = len(fs), sum(fs)
    v = (n * sum(f * f for f in fs) - s1 * s1) / (n * (n - ddof))
    try:
        return float(v)
    except OverflowError:
        return math.inf


def _one(df, col):
    row = df.collect()
    assert len(row) == 1
    return row[0][col]


def test_moments_partition_independent_and_exact(spark):
    # the test_api frame: Spark's stddev_samp gave three different last
    # bits at 1, 2 and 4 partitions here
    pdf = pd.DataFrame({"id": range(100), "x": [float(i % 13) for i in range(100)]})
    df = from_pandas(spark, pdf)
    xs, n = list(pdf["x"]), len(pdf)
    for p in (1, 2, 3, 4, 8):
        pf = ParallelFrame(df.repartition(p))
        for ddof, name in ((0, "pop"), (1, None), (2, "ddof2")):
            sfx = f"_{name}" if name else ""
            want = _exact_var(xs, ddof)
            assert _one(pf.p_var(["x"], ddof=ddof), f"x_var{sfx}") == want, (p, ddof)
            assert _one(pf.p_std(["x"], ddof=ddof), f"x_std{sfx}") == math.sqrt(want), (p, ddof)
        var1 = _exact_var(xs, 1)
        assert _one(pf.p_sem(["x"]), "x_sem") == math.sqrt(var1) / math.sqrt(n), p
        sem2 = math.sqrt(_exact_var(xs, 2)) / math.sqrt(n)
        assert _one(pf.p_sem(["x"], ddof=2), "x_sem_ddof2") == sem2, p
        # the other one-row std cells use the same kernel
        assert _one(pf.p_agg(["std"]), "x_std") == math.sqrt(var1), p
        desc = {r["summary"]: r["x"] for r in pf.p_describe(["x"]).collect()}
        assert desc["std"] == math.sqrt(var1), p
    # pandas is correctly rounded on this frame, so the values are its own
    assert _one(ParallelFrame(df).p_std(["x"]), "x_std") == pdf["x"].std()
    assert _one(ParallelFrame(df).p_std(["x"], ddof=2), "x_std_ddof2") == pdf["x"].std(ddof=2)


# doubles spread over 600 decades, with exact zeros, subnormals and NaN
_mixed = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, min_value=-1e300, max_value=1e300),
    st.floats(allow_nan=False, allow_infinity=False, min_value=-1e-300, max_value=1e-300),
    st.integers(-1000, 1000).map(float),
    st.sampled_from([0.0, -0.0, 5e-324, float("nan")]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_mixed, min_size=0, max_size=60), st.integers(0, 3))
def test_kernel_matches_fraction(xs, ddof):
    v = np.array(xs, dtype=np.float64)
    v = v[~np.isnan(v)]
    sums = reductions._power_sums(v)
    m = reductions.ExactMoments(v.size, *(sums or (0, 0, 0)), False)
    if v.size <= ddof:
        assert m.var(ddof) is None
    else:
        assert m.var(ddof) == _exact_var(v.tolist(), ddof)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_mixed, min_size=0, max_size=40), st.integers(1, 8))
def test_exact_moments_matches_fraction(spark, xs, parts):
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    df = spark.createDataFrame([(x,) for x in xs], schema).repartition(parts)
    m = reductions.exact_moments(df, ["x"])["x"]
    finite = [x for x in xs if not math.isnan(x)]
    assert m.n == len(finite)
    for ddof in (0, 1):
        want = _exact_var(finite, ddof) if len(finite) > ddof else None
        assert m.var(ddof) == want


@pytest.mark.parametrize(
    "rows,want",
    [
        # n <= ddof: NULL (std_pop/var_pop have ddof 0, so one value gives 0)
        ([], dict(std=None, var=None, std_pop=None, var_pop=None, sem=None)),
        ([(1.0,)], dict(std=None, var=None, std_pop=0.0, var_pop=0.0, sem=None)),
        ([(float("nan"),), (float("nan"),)],
         dict(std=None, var=None, std_pop=None, var_pop=None, sem=None)),
        # ±inf present: NaN, unless n <= ddof
        ([(1.0,), (float("inf"),), (2.0,)],
         dict(std="nan", var="nan", std_pop="nan", var_pop="nan", sem="nan")),
        ([(1.0,), (float("-inf"),)],
         dict(std="nan", var="nan", std_pop="nan", var_pop="nan", sem="nan")),
        ([(float("inf"),)], dict(std=None, var=None, std_pop="nan", var_pop="nan", sem=None)),
        # NaN and NULL are skipped
        ([(1.0,), (float("nan"),), (3.0,), (None,)],
         dict(std=math.sqrt(2.0), var=2.0, std_pop=1.0, var_pop=1.0, sem=1.0)),
    ],
)
def test_moment_edge_cases_unchanged(spark, rows, want):
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    df = spark.createDataFrame(rows, schema)
    got = reductions.agg_stats(df, ["x"], list(want)).collect()[0]
    for stat, w in want.items():
        g = got[f"x_{stat}"]
        if w == "nan":
            assert g is not None and math.isnan(g), (stat, g)
        else:
            assert g == w, (stat, g, w)
