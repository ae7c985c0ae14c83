"""Distributed exact Kendall τ-b vs scipy-free brute force.

The reference exposes kendall through ``p_corr(method="kendall")`` backed by
an O(n²) numba kernel (/root/reference/parallel_pandas/_numba.py:7-158);
these tests pin our distributed decomposition (operators/kendall.py) to a
local quadratic reference on adversarial shapes: heavy ties, constant
columns, tiny partitions, and many-bucket vs few-bucket configs.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallel_pandas_spark.operators.kendall import kendall_tau_exact  # noqa: E402


def _brute(x: np.ndarray, y: np.ndarray):
    n = len(x)
    conc = disc = 0
    for i in range(n):
        dx = x[i] - x[i + 1 :]
        dy = y[i] - y[i + 1 :]
        s = dx * dy
        conc += int((s > 0).sum())
        disc += int((s < 0).sum())
    n0 = n * (n - 1) // 2
    _, cx = np.unique(x, return_counts=True)
    _, cy = np.unique(y, return_counts=True)
    n1 = int((cx * (cx - 1) // 2).sum())
    n2 = int((cy * (cy - 1) // 2).sum())
    denom = math.sqrt(float(n0 - n1) * float(n0 - n2)) if n0 > n1 and n0 > n2 else 0.0
    tau = (conc - disc) / denom if denom else float("nan")
    return disc, tau


def _run(spark, x, y, **kw):
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    row = kendall_tau_exact(df, "x", "y", **kw).first()
    return row["n"], row["d"], row["tau"]


def test_kendall_heavy_ties_matches_brute(spark):
    rng = np.random.default_rng(7)
    x = rng.integers(0, 12, 600).astype(float)  # heavy x-ties
    y = rng.integers(0, 5, 600).astype(float)  # heavier y-ties
    d_ref, tau_ref = _brute(x, y)
    n, d, tau = _run(spark, x, y, num_buckets=8, num_partitions=7)
    assert n == 600
    assert d == d_ref
    assert tau == tau_ref  # bit-exact: integer counts + identical final FP ops


def test_kendall_continuous_matches_brute(spark):
    rng = np.random.default_rng(11)
    x = rng.normal(size=400)
    y = 0.3 * x + rng.normal(size=400)
    d_ref, tau_ref = _brute(x, y)
    n, d, tau = _run(spark, x, y, num_buckets=16, num_partitions=5)
    assert (n, d) == (400, d_ref)
    assert tau == tau_ref


def test_kendall_constant_column_nan(spark):
    x = np.arange(50, dtype=float)
    y = np.zeros(50)
    n, d, tau = _run(spark, x, y, num_buckets=4, num_partitions=3)
    assert (n, d) == (50, 0)
    assert math.isnan(tau)


def test_kendall_tiny_and_bucket_invariance(spark):
    rng = np.random.default_rng(3)
    x = rng.integers(0, 4, 37).astype(float)
    y = rng.integers(0, 4, 37).astype(float)
    d_ref, tau_ref = _brute(x, y)
    for b, p in [(2, 1), (64, 16)]:
        n, d, tau = _run(spark, x, y, num_buckets=b, num_partitions=p)
        assert (n, d) == (37, d_ref)
        assert tau == tau_ref


def test_kendall_multi_randomized_matches_brute(spark):
    """Randomized battery for the keyed multi-pair kernel: several seeds ×
    mixed tie densities, every pair checked against the O(n^2) reference in
    ONE kernel invocation per frame (kendall_tau_exact_multi is the engine
    behind corr_matrix(method='kendall'))."""
    from parallel_pandas_spark.operators.reductions import corr_matrix

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        n = int(rng.integers(40, 160))
        pdf = pd.DataFrame(
            {
                "a": rng.integers(0, max(2, n // 20), n).astype(float),
                "b": rng.normal(size=n).round(int(rng.integers(0, 3))),
                "c": np.resize(np.repeat(rng.normal(size=max(1, n // 8)), 8), n),
            }
        )
        got = {
            (r["col_x"], r["col_y"]): r["corr"]
            for r in corr_matrix(
                spark.createDataFrame(pdf), ["a", "b", "c"], method="kendall"
            ).collect()
        }
        for (x, y), v in got.items():
            _, ref = _brute(pdf[x].to_numpy(), pdf[y].to_numpy())
            if math.isnan(ref):
                assert v is None or math.isnan(v), (seed, x, y)
            else:
                assert v == pytest.approx(ref, abs=1e-12), (seed, x, y)


def test_kendall_signed_zero_matches_brute(spark):
    """-0.0 and 0.0 are one value in x and in y: the same x-run, the same
    (x, y)-run, the same y-bucket and never an inversion."""
    x = np.array([0.0, -0.0, 1.0, -0.0, 0.0, -1.0, 0.0, -0.0, 2.0])
    y = np.array([-0.0, 0.0, 0.0, 2.0, -0.0, 0.0, 1.0, -1.0, -0.0])
    d_ref, tau_ref = _brute(x, y)
    for b, p in [(4, 3), (2, 9)]:
        n, d, tau = _run(spark, x, y, num_buckets=b, num_partitions=p)
        assert (n, d) == (9, d_ref)
        assert tau == tau_ref


def test_kendall_x_tie_run_across_partitions(spark):
    """An x-tie run that spans at least three range partitions is counted
    once in n1, with its y values ascending across the partitions."""
    from pyspark.sql import functions as F

    x = np.r_[np.zeros(10), np.full(60, 1.0), np.arange(2, 12.0)]
    y = np.r_[np.arange(10.0), np.arange(60.0) % 7, np.arange(10.0)]
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    spans = (
        df.repartitionByRange(8, F.lit(0).cast("long"), "x", "y")
        .where(F.col("x") == 1.0)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert spans >= 3  # the premise: the run really crosses partitions
    d_ref, tau_ref = _brute(x, y)
    n, d, tau = _run(spark, x, y, num_buckets=4, num_partitions=8)
    assert (n, d) == (80, d_ref)
    assert tau == tau_ref


def test_kendall_more_partitions_than_rows(spark):
    x = np.array([3.0, 1.0, 2.0, 5.0, 4.0])
    y = np.array([1.0, 1.0, 2.0, 0.0, 3.0])
    d_ref, tau_ref = _brute(x, y)
    n, d, tau = _run(spark, x, y, num_buckets=8, num_partitions=16)
    assert (n, d) == (5, d_ref)
    assert tau == tau_ref


def test_kendall_single_row_and_empty(spark):
    n, d, tau = _run(spark, [1.0], [2.0], num_buckets=4, num_partitions=3)
    assert (n, d) == (1, 0)
    assert math.isnan(tau)
    # empty input still yields one row: no count, no pairs, NaN tau
    n, d, tau = _run(spark, [], [], num_buckets=4, num_partitions=3)
    assert (n, d) == (None, None)
    assert math.isnan(tau)


def test_kendall_multi_shared_partitions_and_empty_pair(spark):
    """Several small pairs land in the same range partitions; each pair's
    counts stay its own. A pair whose rows are all missing gives no row."""
    from parallel_pandas_spark.operators.kendall import kendall_tau_exact_multi

    rng = np.random.default_rng(5)
    pairs = {
        0: (rng.integers(0, 4, 9).astype(float), rng.integers(0, 3, 9).astype(float)),
        1: (rng.normal(size=14), rng.normal(size=14)),
        2: (np.array([1.0, 1.0, 2.0]), np.array([0.0, -0.0, 5.0])),
    }
    rows = [(p, float(a), float(b)) for p, (x, y) in pairs.items() for a, b in zip(x, y)]
    rows += [(3, None, 1.0), (3, 2.0, float("nan"))]  # pair 3: no complete row
    df = spark.createDataFrame(rows, "pid long, x double, y double")
    for b, p in [(4, 2), (16, 5)]:
        got = {
            r["pid"]: (r["n"], r["d"], r["tau"])
            for r in kendall_tau_exact_multi(
                df, "pid", num_buckets=b, num_partitions=p
            ).collect()
        }
        assert set(got) == {0, 1, 2}
        for pr, (x, y) in pairs.items():
            d_ref, tau_ref = _brute(x, y)
            n, d, tau = got[pr]
            assert (n, d) == (len(x), d_ref), (b, p, pr)
            assert tau == tau_ref or (math.isnan(tau) and math.isnan(tau_ref))


def test_kendall_one_pass_shape(spark):
    """A warm call (construct + force) runs at most 7 Spark jobs, reads no
    checkpoint, and a second identical call compiles no new code."""
    from pyspark.sql import functions as F

    df = spark.range(3000).select(
        (F.col("id") % 97).cast("double").alias("x"),
        ((F.col("id") * 7919) % 13).cast("double").alias("y"),
    )
    sc = spark.sparkContext
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def call(group):
        sc.setJobGroup(group, group)
        try:
            out = kendall_tau_exact(df, "x", "y", num_buckets=16, num_partitions=4)
            out.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    call("kendall-shape-cold")
    out, jobs = call("kendall-shape-warm")
    assert jobs <= 7
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    before = compiles.getCount()
    call("kendall-shape-again")
    assert compiles.getCount() == before
