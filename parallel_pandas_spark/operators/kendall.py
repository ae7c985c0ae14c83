"""Exact distributed Kendall τ-b.

The reference computes exact Kendall with an O(n²) numba kernel on one
machine (/root/reference/parallel_pandas/_numba.py:7-158). That shape
cannot scale; this module computes the *same exact statistic* with a
distributed decomposition whose heaviest stage is an O(m log² m) local
merge-count per partition. One keyed kernel serves one pair or many:
every (x, y) row carries a pair key ``pr``, and the whole pipeline is a
bucket-bound collect plus one plan of three shuffles (a range
partitioning, a keyed finish, a per-pair sum).

Math
----
τ-b = (C − D) / sqrt((n0 − n1)(n0 − n2)) with

    n0 = n(n−1)/2,   n1 = Σ_x tx(tx−1)/2,   n2 = Σ_y ty(ty−1)/2,
    n3 = Σ_{(x,y)} u(u−1)/2,   C + D = n0 − n1 − n2 + n3.

so only the discordant count D is non-trivial. Sort the pairs by
(x asc, y asc); then D is exactly the number of *strict* inversions of
the y sequence (pairs at positions a<b with y_a > y_b): x-ties sort with
y ascending, so no pair with equal x is ever counted.

Distributed inversion count
---------------------------
Range-partition the sorted sequence into P contiguous chunks and bucket
the y domain into B quantile intervals, then

    D =  Σ_p inv_within(p)                       (local merge-count)
       + Σ_{p<q} Σ_{bucket_a > bucket_b} H[p][a]·H[q][b]
                                                 (2-D prefix sums over the
                                                  P×B histogram grid H)
       + Σ_buckets cross-partition same-bucket inversions
                                                 (weighted multiset count
                                                  on the collapsed
                                                  (pid, y, cnt) rows)

Every stage is exact; ties never contribute because all comparisons are
strict, and range partitioning on (pr, x, y) guarantees that an x-tied
pair split across partitions has y ascending. The same-bucket stage
operates on *collapsed* (pid, y) multiplicities, so heavy-tie columns
(years, categories) shrink to metadata size before the shuffle.

Pipeline
--------
1. Bucket bounds: one per-pair ``approx_percentile`` collect (pairs ×
   (B−1) doubles). Placement affects load balance only, never the
   statistic — the bucket map is a monotone pure function of y.
2. ``repartitionByRange(P, pr, x, y)`` + ``sortWithinPartitions``.
3. One ``mapInPandas`` pass per partition emits, per pair present, the
   metadata rows (``g = -1``: y-bucket histogram, local inversions,
   interior tie runs, the ≤ 2 boundary x-runs that may continue into a
   neighbour) and the collapsed ``(y, c)`` rows (``g = bucket``).
4. One ``groupBy(pr, g).applyInPandas`` finish: the metadata group yields
   n, n1, n3, v1 and the grid term v2; each bucket group yields its
   same-bucket inversions v3 and its y-tie pairs (equal y ⟹ equal bucket,
   so a bucket group sees every occurrence of its y values).
5. A per-pair sum and the τ-b expression.

Each intermediate has exactly one consumer, so nothing is checkpointed
and no driver thread runs; the plan is the same from call to call, so
warm calls hit the codegen cache.

The result is assembled from exact integer counts; the only floating
point is the final few IEEE ops (cast/multiply/sqrt/divide), which are
bit-identical in any engine — so the DuckDB bucketed oracle hash-matches
exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# row kinds: the g = -1 metadata group holds _HIST, _SUMM and _XRUN rows;
# each g = bucket group holds the _YRUN rows of its y values
_HIST, _SUMM, _XRUN, _YRUN = 0, 1, 2, 3

_STATS = (
    "pr long, g long, kind int, pid long, bkt long, cnt long, inv long, "
    "n3 long, n1i long, v double"
)
_COUNTS = ("n", "n1", "n2", "n3", "v1", "v2", "v3")


def _inv_count(y: np.ndarray) -> int:
    """Strict inversions (#pairs a<b with y[a] > y[b]) in O(m log² m) with
    every step a whole-array numpy op (no per-element Python), so it holds
    up on multi-million-row partitions.

    Bottom-up merge counting. At each level the array is a sequence of
    sorted blocks of width w; block pairs are made disjoint by adding
    per-pair integer offsets to the dense ranks, so ONE global searchsorted
    counts, for every right-half element, how many left-half elements of
    its own pair exceed it. Padding uses the max sentinel m, whose
    spurious greater-than counts are subtracted in closed form.
    """
    m = len(y)
    if m < 2:
        return 0
    r = np.unique(y, return_inverse=True)[1].astype(np.int64)  # dense ranks
    k = 1
    while k < m:
        k <<= 1
    a = np.concatenate([r, np.full(k - m, m, dtype=np.int64)])  # pad = max
    inv = 0
    w = 1
    while w < k:
        a2 = a.reshape(-1, 2 * w)
        left, right = a2[:, :w], a2[:, w:]
        npair = a2.shape[0]
        off = (np.arange(npair, dtype=np.int64) * (m + 2))[:, None]
        sorted_lefts = (left + off).ravel()  # globally ascending
        queries = (right + off).ravel()
        pos = np.searchsorted(sorted_lefts, queries, side="right")
        ends = np.repeat((np.arange(npair, dtype=np.int64) + 1) * w, w)
        inv += int((ends - pos).sum())
        # sentinel correction: each pad in a left half counted itself
        # as > every REAL right-half element of its pair
        pad_l = (left == m).sum(axis=1)
        real_r = (right != m).sum(axis=1)
        inv -= int((pad_l * real_r).sum())
        a = np.sort(a2, axis=1).ravel()
        w <<= 1
    return inv


def _pairs(t: np.ndarray) -> int:
    """Σ t(t−1)/2 — the tied pairs among runs of sizes ``t``."""
    return int((t * (t - 1) // 2).sum())


def _tie_pairs(keys: np.ndarray, counts: np.ndarray) -> int:
    """Tied pairs after totalling ``counts`` per distinct key (±0.0 are one
    key, as in Spark's grouping and ordering)."""
    uniq, idx = np.unique(keys, return_inverse=True)
    tot = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(tot, idx, counts)
    return _pairs(tot)


def _pair_rows(p: int, pid: int, x: np.ndarray, y: np.ndarray, bounds) -> pd.DataFrame:
    """One partition's rows of one pair, (x, y)-sorted → its metadata rows
    (``g = -1``) and its collapsed ``(bucket, y, c)`` rows (``g = bucket``)."""
    m = len(x)
    nan = float("nan")
    hist = np.bincount(np.searchsorted(bounds, y, side="right"))
    nz = np.flatnonzero(hist)
    # x-runs: interior runs contribute t(t-1)/2 locally; the first and
    # last run may continue into a neighbour, so they travel as (x, cnt)
    # metadata and are merged by x in the finish
    xchg = x[1:] != x[:-1]
    starts = np.flatnonzero(np.concatenate(([True], xchg)))
    runs = np.diff(np.concatenate((starts, [m])))
    edge = [0] if len(runs) == 1 else [0, -1]
    # (x, y)-runs: equal pairs are contiguous here and never span a range
    # partition, so n3 is exact partition-locally
    xy = np.diff(np.flatnonzero(np.concatenate(([True], xchg | (y[1:] != y[:-1]), [True]))))
    uy, uc = np.unique(y, return_counts=True)
    meta = pd.DataFrame({
        "g": -1,
        "kind": [_HIST] * len(nz) + [_SUMM] + [_XRUN] * len(edge),
        "bkt": np.concatenate((nz, [-1] * (1 + len(edge)))),
        "cnt": np.concatenate((hist[nz], [0], runs[edge])),
        "inv": [0] * len(nz) + [_inv_count(y)] + [0] * len(edge),
        "n3": [0] * len(nz) + [_pairs(xy)] + [0] * len(edge),
        "n1i": [0] * len(nz) + [_pairs(runs[1:-1])] + [0] * len(edge),
        "v": np.concatenate(([nan] * (len(nz) + 1), x[starts[edge]])),
    })
    ub = np.searchsorted(bounds, uy, side="right")
    coll = pd.DataFrame({
        "g": ub, "kind": _YRUN, "bkt": ub, "cnt": uc, "inv": 0, "n3": 0,
        "n1i": 0, "v": uy,
    })
    out = pd.concat([meta, coll], ignore_index=True)
    out.insert(0, "pr", p)
    out.insert(3, "pid", pid)
    return out


def _grid_cross(pid: np.ndarray, bkt: np.ndarray, cnt: np.ndarray) -> int:
    """v2: pairs whose earlier partition holds the strictly higher bucket,
    by 2-D prefix sums over the dense P×B histogram grid H."""
    _, row = np.unique(pid, return_inverse=True)
    H = np.zeros((row.max() + 1, bkt.max() + 1), dtype=np.int64)
    np.add.at(H, (row, bkt), cnt)
    prev = np.cumsum(H, axis=0) - H  # same bucket, earlier partitions
    above = np.cumsum(prev[:, ::-1], axis=1)[:, ::-1] - prev  # higher buckets
    return int((H * above).sum())


def _bucket_cross(pids: np.ndarray, ys: np.ndarray, cs: np.ndarray) -> int:
    """v3: weighted strict inversions between different partitions of one
    bucket's collapsed (pid, y, c) rows, given sorted by (pid, y)."""
    inv = 0
    acc_y = np.empty(0, dtype=np.float64)
    acc_w = np.empty(0, dtype=np.int64)
    start = 0
    m = len(pids)
    while start < m:
        end = start
        while end < m and pids[end] == pids[start]:
            end += 1
        yb, wb = ys[start:end], cs[start:end]
        if len(acc_y):
            # weight of earlier-pid values strictly greater than each y
            cumw = np.concatenate(([0], np.cumsum(acc_w)))
            gt = cumw[-1] - cumw[np.searchsorted(acc_y, yb, side="right")]
            inv += int((gt * wb).sum())
        acc_y = np.concatenate([acc_y, yb])
        acc_w = np.concatenate([acc_w, wb])
        order = np.argsort(acc_y, kind="mergesort")
        acc_y, acc_w = acc_y[order], acc_w[order]
        start = end
    return inv


def _finish(key, pdf):
    """The exact counts of one (pair, g) group: the metadata group gives
    n, n1, n3, v1, v2; a bucket group gives its y-tie pairs n2 and v3."""
    out = dict.fromkeys(_COUNTS, 0)
    if key[1] < 0:
        kind = pdf["kind"].to_numpy()
        hist, summ, xrun = (pdf[kind == k] for k in (_HIST, _SUMM, _XRUN))
        cnt = hist["cnt"].to_numpy(dtype=np.int64)
        out["n"] = int(cnt.sum())
        out["v2"] = _grid_cross(
            hist["pid"].to_numpy(), hist["bkt"].to_numpy(dtype=np.int64), cnt
        )
        out["v1"] = int(summ["inv"].sum())
        out["n3"] = int(summ["n3"].sum())
        # a boundary run spanning partitions p..q appears once per touched
        # partition and totals to its true length here
        out["n1"] = int(summ["n1i"].sum()) + _tie_pairs(
            xrun["v"].to_numpy(), xrun["cnt"].to_numpy(dtype=np.int64)
        )
    else:
        pdf = pdf.sort_values(["pid", "v"], kind="mergesort")
        ys = pdf["v"].to_numpy(dtype=np.float64)
        cs = pdf["cnt"].to_numpy(dtype=np.int64)
        out["n2"] = _tie_pairs(ys, cs)
        out["v3"] = _bucket_cross(pdf["pid"].to_numpy(), ys, cs)
    return pd.DataFrame({"pr": [key[0]], **{k: [v] for k, v in out.items()}})


def _count_parts(d: DataFrame, num_buckets: int, num_partitions: int | None) -> DataFrame:
    """The kernel over a ``(pr, x, y)`` frame: one row of exact counts per
    (pair, g) group, to be summed per pair by the caller."""
    spark = d.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    B = num_buckets
    qs = ", ".join(str(i / B) for i in range(1, B))
    bounds = {
        int(r["pr"]): np.asarray(r["b"], dtype=np.float64)
        for r in d.groupBy("pr")
        .agg(F.expr(f"approx_percentile(y, array({qs}), 1000)").alias("b"))
        .collect()
    }

    def _part_stats(it):
        prs, xs, ys = [], [], []
        pid = -1
        for pdf in it:
            if len(pdf):
                pid = int(pdf["pid"].iloc[0])
                prs.append(pdf["pr"].to_numpy(dtype=np.int64))
                xs.append(pdf["x"].to_numpy(dtype=np.float64))
                ys.append(pdf["y"].to_numpy(dtype=np.float64))
        if pid < 0:
            return
        pr, x, y = (np.concatenate(a) for a in (prs, xs, ys))
        # (pr, x, y)-sorted: each pair present is one contiguous run
        cuts = np.flatnonzero(pr[1:] != pr[:-1]) + 1
        for lo, hi in zip(np.concatenate(([0], cuts)), np.concatenate((cuts, [len(pr)]))):
            p = int(pr[lo])
            yield _pair_rows(p, pid, x[lo:hi], y[lo:hi], bounds[p])

    return (
        d.repartitionByRange(P, "pr", "x", "y")
        .sortWithinPartitions("pr", "x", "y")
        .withColumn("pid", F.spark_partition_id())
        .mapInPandas(_part_stats, _STATS)
        .groupBy("pr", "g")
        .applyInPandas(_finish, "pr long, " + ", ".join(f"{c} long" for c in _COUNTS))
    )


def _tau_b(counts: DataFrame, *keep: str) -> DataFrame:
    """``(*keep, n, d, tau)`` from summed exact counts."""
    n0 = F.expr("n*(n-1) div 2")
    n1, n2, n3 = F.col("n1"), F.col("n2"), F.col("n3")
    d = F.col("v1") + F.col("v2") + F.col("v3")
    return counts.select(
        *keep,
        F.col("n"),
        d.alias("d"),
        F.when(
            (n0 > n1) & (n0 > n2),
            (n0 - n1 - n2 + n3 - 2 * d).cast("double")
            / F.sqrt((n0 - n1).cast("double") * (n0 - n2).cast("double")),
        )
        .otherwise(F.lit(float("nan")))  # degenerate: a constant column
        .alias("tau"),
    )


def kendall_tau_exact_multi(
    df: DataFrame,
    pair_col: str,
    col_a: str = "x",
    col_b: str = "y",
    num_buckets: int = 64,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact Kendall τ-b for MANY (x, y) pairs in ONE keyed pipeline.

    ``df`` is a pair-long frame ``(pair_col, x, y)`` — e.g. the single
    explode :func:`reductions.corr_matrix` builds over a literal array of
    (col_x, col_y) structs. All pairs share the kernel's one bound collect,
    one range partitioning, one per-partition pass and one keyed finish,
    instead of C(k,2) independent pipelines each re-scanning the input.
    ``num_partitions`` defaults to the cluster's default parallelism.

    Returns one row per pair: ``(pair_col, n long, d long, tau double)``.
    Pairs with zero input rows produce no row — callers seed-join if they
    need explicit NULLs (reductions.corr_matrix does).
    """
    d = df.select(
        F.col(pair_col).cast("long").alias("pr"),
        F.col(col_a).cast("double").alias("x"),
        F.col(col_b).cast("double").alias("y"),
    ).dropna()
    counts = _count_parts(d, num_buckets, num_partitions).groupBy("pr").agg(
        *(F.sum(c).alias(c) for c in _COUNTS)
    )
    return _tau_b(counts, F.col("pr").alias(pair_col))


def kendall_tau_exact(
    df: DataFrame,
    col_a: str,
    col_b: str,
    num_buckets: int = 256,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact Kendall τ-b of two columns, fully distributed: the keyed
    kernel over a constant pair key. ``num_partitions`` defaults to the
    cluster's default parallelism.

    Returns a 1-row DataFrame ``(n long, d long, tau double)`` — ``d`` is
    the exact discordant-pair count, directly comparable with an O(n²)
    SQL oracle. Empty input gives ``(NULL, NULL, NaN)``.
    """
    d = df.select(
        F.lit(0).cast("long").alias("pr"),
        F.col(col_a).cast("double").alias("x"),
        F.col(col_b).cast("double").alias("y"),
    ).dropna()
    counts = _count_parts(d, num_buckets, num_partitions).agg(
        *(F.sum(c).alias(c) for c in _COUNTS)
    )
    return _tau_b(counts)
