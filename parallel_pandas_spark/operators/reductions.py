"""Full-frame reductions & statistics (SURVEY.md §2.3, reference ops #7-#17).

The reference splits the frame *across columns* and runs each pandas
reduction per chunk (/root/reference/parallel_pandas/parallel_dataframe.py:714-916).
Here every per-column reduction becomes one expression inside a single
``df.agg(...)`` — one scan, map-side partial aggregation, whole-stage
codegen — which is the strictly-better distributed shape: at 100 TB one
pass over the parquet produces all requested statistics, no per-column
re-scan. The one exception is the one-row ``var``/``std``/``sem`` cells
(``agg_stats``, ``ParallelFrame.p_std``/``p_var``/``p_sem``/``p_agg``,
``describe_exact``'s std row): they come from ONE extra ``mapInPandas``
pass, :func:`exact_moments`, that sums every value and square as exact
integers (numpy ``frexp`` + Python ints), so the variance is rounded
once and is bit-identical at any partitioning; Spark's moment
aggregates round per partition and per merge, and their last bits move
with the partition count.

pandas-semantics shims implemented as expressions:
- ``skew``/``kurt``: pandas returns bias-corrected sample estimators G1/G2;
  Spark's ``skewness``/``kurtosis`` are population g1/g2. We apply the exact
  algebraic corrections (parallel_dataframe.py:722-734 delegates to pandas
  nanops which uses the adjusted estimators).
- ``var``/``std``/``sem`` divide by ``n - ddof``; ``std = sqrt(var)``
  and ``sem = sqrt(var) / sqrt(n)``, the forms of pandas' ``nanstd`` /
  ``nansem`` (parallel_dataframe.py:765-811). NULL when ``n <= ddof``,
  NaN when the column holds ±inf. Grouped and window aggregates still
  use the :data:`STAT_EXPRS` Spark builders (``sem`` = stddev_samp /
  sqrt(count)).
- ``sum``/``prod`` honor ``min_count`` (parallel_dataframe.py:814-861).
- ``mad`` = mean(|x - mean|) — removed in pandas 2.0 but kept by the
  reference for capability parity (parallel_dataframe.py:502-522).
- deterministic-at-scale sums: floating-point ``SUM`` depends on partition
  merge order; ``decimal_sum``/``decimal_mean`` aggregate in DECIMAL(28,6)
  (exact, order-independent) then cast back to DOUBLE, so results are
  bit-identical across cluster layouts.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# expression builders
# ---------------------------------------------------------------------------


# canonical mask helpers live in masks.py (consolidated r7 after the r6
# drift bug); re-exported here because half the package and the entry
# file import them under these names.
from . import orderstats  # noqa: E402
from .masks import is_floating as _floating  # noqa: E402
from .masks import nan_safe  # noqa: E402,F401


def decimal_sum(col: str | Column, scale: int = 6) -> Column:
    """Order-independent exact sum of a double column, returned as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


def decimal_mean(col: str | Column, scale: int = 6) -> Column:
    """Deterministic mean: exact decimal sum / count, evaluated in DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return decimal_sum(c, scale) / F.count(c)


def sem(col: str | Column, ddof: int = 1) -> Column:
    """Standard error of the mean as a Spark aggregate (ddof=1 default):
    the grouped/window form; one-row ``p_sem`` uses :func:`exact_moments`."""
    c = F.col(col) if isinstance(col, str) else col
    std = F.stddev_samp(c) if ddof == 1 else F.stddev_pop(c)
    return std / F.sqrt(F.count(c))


def skew_sample(col: str | Column) -> Column:
    """pandas-style adjusted Fisher-Pearson skewness G1.

    G1 = g1 * sqrt(n*(n-1)) / (n-2), where g1 is the population skewness
    Spark computes.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    return F.skewness(c) * F.sqrt(n * (n - 1)) / (n - 2)


def kurt_sample(col: str | Column) -> Column:
    """pandas-style adjusted excess kurtosis G2.

    G2 = ((n+1)*g2 + 6) * (n-1) / ((n-2)*(n-3)), where g2 is the population
    excess kurtosis Spark computes.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    g2 = F.kurtosis(c)
    return ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))


def sum_min_count(col: str | Column, min_count: int = 0, df: DataFrame | None = None) -> Column:
    """pandas p_sum(min_count=): NULL unless >= min_count non-null values."""
    c = nan_safe(df, col) if (df is not None and isinstance(col, str)) else (
        F.col(col) if isinstance(col, str) else col
    )
    total = F.sum(c)
    if min_count <= 0:
        return F.coalesce(total, F.lit(0.0))
    return F.when(F.count(c) >= min_count, total)


def prod_min_count(col: str | Column, min_count: int = 0, df: DataFrame | None = None) -> Column:
    c = nan_safe(df, col) if (df is not None and isinstance(col, str)) else (
        F.col(col) if isinstance(col, str) else col
    )
    p = F.product(c)
    if min_count <= 0:
        return F.coalesce(p, F.lit(1.0))
    return F.when(F.count(c) >= min_count, p)


#: stat name -> RAW aggregate Column builder (window-composable: callers
#: may apply .over()); mirrors the reference's patched p_* set. pandas'
#: min_count=0 identities for sum/prod (all-NULL input -> 0 / 1, not
#: SQL's NULL — r6 fuzz fix) live in MINCOUNT_IDENTITY and are applied by
#: stat_expr() in aggregation context and post-.over() by transforms.
STAT_EXPRS = {
    "min": F.min,
    "max": F.max,
    "mean": F.avg,
    "median": F.median,
    "sum": F.sum,
    "prod": F.product,
    "count": F.count,
    "std": F.stddev_samp,
    "var": F.var_samp,
    "std_pop": F.stddev_pop,
    "var_pop": F.var_pop,
    "sem": sem,
    "skew": skew_sample,
    "kurt": kurt_sample,
    "nunique": F.countDistinct,
    "approx_nunique": F.approx_count_distinct,
    "first": F.first,
    "last": F.last,
}


#: pandas min_count=0 identity values (the int literal coerces to the
#: aggregate's own type, so long sums stay long)
MINCOUNT_IDENTITY = {"sum": 0, "prod": 1}


def stat_expr(stat: str, col, df: DataFrame | None = None) -> Column:
    """Aggregate expression for ``stat`` over ``col``. Pass ``df`` to get
    pandas skipna semantics for TRUE NaN values (:func:`nan_safe`) —
    callers with a frame in hand should always pass it."""
    src = nan_safe(df, col) if (df is not None and isinstance(col, str)) else col
    try:
        e = STAT_EXPRS[stat](src)
    except KeyError:
        raise ValueError(f"unknown stat {stat!r}; known: {sorted(STAT_EXPRS)}") from None
    if stat in MINCOUNT_IDENTITY:
        e = F.coalesce(e, F.lit(MINCOUNT_IDENTITY[stat]))
    return e


# ---------------------------------------------------------------------------
# exact one-row moments (var / std / sem)
# ---------------------------------------------------------------------------

#: bits per limb when squaring 53-bit mantissas in int64: each limb
#: product is < 2^36, so a coefficient sum over _CHUNK rows stays < 2^63
_LIMB = 18
_CHUNK = 1 << 20


class ExactMoments(NamedTuple):
    """Exact power sums of one column's non-NaN values.

    ``n`` counts the values, ±inf included. The finite ones sum to
    ``s1 · 2^exp`` and their squares to ``s2 · 2^(2·exp)``; ``s1`` and
    ``s2`` are Python ints, so nothing is rounded until :meth:`var`
    divides once.
    """

    n: int
    exp: int
    s1: int
    s2: int
    nonfinite: bool

    def var(self, ddof: int = 1) -> float | None:
        """``(n·Σx² − (Σx)²) / (n·(n − ddof))``, correctly rounded.

        None (SQL NULL) when ``n ≤ ddof``; NaN when a value is ±inf
        (pandas' ``nanvar`` forms inf − inf); inf when the exact
        variance exceeds the double range."""
        if self.n <= ddof:
            return None
        if self.nonfinite:
            return math.nan
        num = self.n * self.s2 - self.s1 * self.s1
        den = self.n * (self.n - ddof)
        if self.exp >= 0:
            num <<= 2 * self.exp
        else:
            den <<= -2 * self.exp
        try:
            return num / den  # int / int rounds once, to nearest
        except OverflowError:
            return math.inf

    def stat(self, kind: str, ddof: int = 1) -> float | None:
        """``var``, ``std = sqrt(var)`` or ``sem = sqrt(var)/sqrt(n)``
        (the forms pandas' ``nanstd``/``nansem`` use)."""
        v = self.var(ddof)
        if v is None or kind == "var":
            return v
        if kind == "std":
            return math.sqrt(v)
        return math.sqrt(v) / math.sqrt(self.n)


def _merge_sums(a: tuple[int, int, int] | None, b: tuple[int, int, int] | None):
    """Sum two ``(exp, s1, s2)`` triples exactly, at the smaller scale."""
    if a is None or b is None:
        return a if b is None else b
    e = min(a[0], b[0])
    da, db = a[0] - e, b[0] - e
    return (
        e,
        (a[1] << da) + (b[1] << db),
        (a[2] << 2 * da) + (b[2] << 2 * db),
    )


def _power_sums(v: np.ndarray) -> tuple[int, int, int] | None:
    """Exact ``(exp, s1, s2)`` of finite doubles ``v`` (see ExactMoments).

    Every finite double is ``m · 2^k`` with ``|m| < 2^53``. Rows are
    grouped by ``k``; within a group the int64 sums of ``m`` (split in
    two halves) and of ``m²`` (five 18-bit limb-product coefficients)
    cannot overflow, and the Python-int combine shifts each group to
    the smallest ``k``."""
    v = v[v != 0.0]
    if v.size == 0:
        return None
    out = None
    for i in range(0, v.size, _CHUNK):
        f, e = np.frexp(v[i:i + _CHUNK])
        order = np.argsort(e, kind="stable")
        k = e[order].astype(np.int64) - 53
        m = np.ldexp(f[order], 53).astype(np.int64)
        starts = np.flatnonzero(np.diff(k, prepend=k[0] - 1))
        a = np.abs(m)
        mask = (1 << _LIMB) - 1
        l0, l1, l2 = a & mask, (a >> _LIMB) & mask, a >> (2 * _LIMB)
        parts = [
            m >> 26, m & ((1 << 26) - 1),  # m = hi·2^26 + lo
            l0 * l0, 2 * l0 * l1, l1 * l1 + 2 * l0 * l2, 2 * l1 * l2, l2 * l2,
        ]
        sums = [np.add.reduceat(p, starts).tolist() for p in parts]
        base = int(k[0])
        s1 = s2 = 0
        for g, kg in enumerate(k[starts].tolist()):
            d = kg - base
            s1 += ((sums[0][g] << 26) + sums[1][g]) << d
            sq = sum(sums[2 + t][g] << (_LIMB * t) for t in range(5))
            s2 += sq << (2 * d)
        out = _merge_sums(out, (base, s1, s2))
    return out


def exact_moments(df: DataFrame, cols: Sequence[str]) -> dict[str, ExactMoments]:
    """Exact count and power sums of each column, in one Python pass.

    Each partition accumulates integer sums in ``mapInPandas`` and emits
    one row per column; the driver adds those rows exactly. The result
    does not depend on partitioning or row order, so the moments formed
    from it are bit-identical at any layout. NULL and NaN are skipped
    (pandas ``skipna``); values are cast to double, as Spark's moment
    aggregates and pandas' ``nanvar`` both do."""
    if not cols:
        return {}
    src = df.select(*[F.col(c).cast("double").alias(f"_{i}") for i, c in enumerate(cols)])
    k = len(cols)

    def _partition(batches):
        import pandas as pd

        n = [0] * k
        nonfinite = [False] * k
        sums = [None] * k
        for pdf in batches:
            for i in range(k):
                v = pdf[f"_{i}"].to_numpy(dtype=np.float64)
                v = v[~np.isnan(v)]
                fin = v[np.isfinite(v)]
                n[i] += v.size
                nonfinite[i] |= fin.size < v.size
                sums[i] = _merge_sums(sums[i], _power_sums(fin))
        yield pd.DataFrame({
            "c": range(k),
            "n": n,
            "exp": [s and s[0] for s in sums],
            "s1": [s and format(s[1], "x") for s in sums],
            "s2": [s and format(s[2], "x") for s in sums],
            "nonfinite": nonfinite,
        })

    rows = src.mapInPandas(
        _partition, "c int, n long, exp int, s1 string, s2 string, nonfinite boolean"
    ).collect()
    n = [0] * k
    nonfinite = [False] * k
    sums = [None] * k
    for r in rows:
        n[r.c] += r.n
        nonfinite[r.c] |= r.nonfinite
        if r.exp is not None:
            sums[r.c] = _merge_sums(sums[r.c], (r.exp, int(r.s1, 16), int(r.s2, 16)))
    return {
        c: ExactMoments(n[i], *(sums[i] or (0, 0, 0)), nonfinite[i])
        for i, c in enumerate(cols)
    }


def _moment_spec(stat: str) -> tuple[str, int] | None:
    """``(kind, ddof)`` of a one-row moment stat name, else None: ``var``,
    ``std``, ``sem`` (ddof 1), ``<kind>_pop`` (ddof 0) and
    ``<kind>_ddof<k>`` (see :func:`moment_stat_name`)."""
    if not isinstance(stat, str):
        return None  # stat_expr reports the unknown stat
    kind, _, tail = stat.partition("_")
    if kind not in ("var", "std", "sem"):
        return None
    if not tail:
        return kind, 1
    if tail == "pop":
        return kind, 0
    if tail.startswith("ddof"):
        try:
            return kind, int(tail[4:])
        except ValueError:
            return None
    return None


def moment_stat_name(kind: str, ddof: int) -> str:
    """Stat name of ``kind`` (var/std/sem) at ``ddof``: ``std`` for ddof 1,
    ``std_pop`` for ddof 0, ``std_ddof2`` otherwise."""
    if ddof == 1:
        return kind
    if ddof == 0:
        return f"{kind}_pop"
    return f"{kind}_ddof{ddof}"


def agg_cells(df: DataFrame, cells: Sequence[tuple[str, str]]) -> DataFrame:
    """One-row frame of ``<col>_<stat>`` for every (col, stat) cell.

    Moment cells (var/std/sem at any ddof, see :func:`_moment_spec`) come
    from ONE :func:`exact_moments` pass and enter the aggregation as
    literals, the way :func:`describe_exact` takes its exact percentiles;
    every other cell is a :func:`stat_expr` aggregate of the same scan.
    """
    specs = {s: _moment_spec(s) for _, s in cells}
    mom_cols = list(dict.fromkeys(c for c, s in cells if specs[s]))
    mom = exact_moments(df, mom_cols)
    exprs = [
        (F.lit(mom[c].stat(*specs[s])).cast("double") if specs[s] else stat_expr(s, c, df))
        .alias(f"{c}_{s}")
        for c, s in cells
    ]
    return df.agg(*exprs)


def agg_stats(df: DataFrame, cols: Sequence[str], stats: Sequence[str]) -> DataFrame:
    """One-row frame of ``<col>_<stat>`` for every (col, stat) pair.

    Reference: ParallelizeStatFunc / ParallelizeStatFuncDdof /
    ParallelizeMinCountStatFunc (parallel_dataframe.py:714-861) — each op
    there is a separate pool dispatch; here all pairs share one scan
    (plus the exact-moment pass when a var/std/sem cell is asked for).
    """
    return agg_cells(df, [(c, s) for c in cols for s in stats])


#: pandas Series.quantile(interpolation=) modes (numpy method names)
_QUANTILE_INTERP = {"linear", "lower", "higher", "nearest", "midpoint"}


def _round_half_even(h: float) -> int:
    """numpy 'nearest' tie rule: round half to even (np.around); Python's
    built-in round() implements exactly this on floats."""
    return int(round(h))


def _mode_indices(mode: str, h: float) -> list[int]:
    """Sorted-data indices a non-linear interpolation mode selects for
    position ``h = (n-1)*q`` — midpoint returns its two neighbors.
    Shared by :func:`quantile` and :func:`quantile_interp_multi` so the
    mode dispatch cannot drift between them."""
    lo, hi = math.floor(h), math.ceil(h)
    if mode == "lower":
        return [lo]
    if mode == "higher":
        return [hi]
    if mode == "nearest":
        return [_round_half_even(h)]
    return [lo, hi]  # midpoint


def quantile(
    df: DataFrame,
    cols: Sequence[str],
    qs: Sequence[float],
    exact: bool = True,
    interpolation: str = "linear",
) -> DataFrame:
    """Exact or approximate quantiles with the full pandas
    ``interpolation=`` surface (linear/lower/higher/nearest/midpoint).

    Reference p_quantile (parallel_dataframe.py:598-622) forwards every
    pandas kwarg — pandas resolves position ``h = (n-1)*q`` over the
    non-NaN sorted values and picks per mode (numpy quantile methods).
    One output row per q, one column per input column — mirrors pandas'
    list-q frame shape. ``exact=False`` switches to ``approx_percentile``
    (the 100 TB path: single-pass sketch, no global sort; linear only).

    Non-linear modes select *data points* (or their midpoint), which
    Spark's ``percentile`` cannot express directly (its probability
    argument must be foldable). Two passes: a cheap 1-row count agg fixes
    ``n`` per column, then the index ``k`` chosen per mode is re-expressed
    as the literal probability ``k/(n-1)`` so the same single-scan
    ``percentile(col, array(...))`` aggregate serves every mode. The
    float division puts the interpolation position within one ulp of the
    integer index, so the "interpolation" collapses to the data point
    (error bounded by ulp × neighbor-gap). The count row is a
    metadata-sized driver fetch, same class as kendall's bucket bounds.
    """
    if interpolation not in _QUANTILE_INTERP:
        raise ValueError(
            f"unknown interpolation {interpolation!r}; known: {sorted(_QUANTILE_INTERP)}"
        )
    if not exact and interpolation != "linear":
        raise ValueError("approx quantile sketches support interpolation='linear' only")
    if not exact:
        # ONE scan: percentile_approx(col, array(qs)) computes every
        # quantile of every column in a single sketch aggregation
        # (mergeable, bounded state — the 100 TB default path)
        qarr = F.array(*[F.lit(float(q)) for q in qs])
        wide = df.agg(
            *[F.percentile_approx(nan_safe(df, c), qarr).alias(c) for c in cols]
        )
        zipped = F.arrays_zip(
            F.array(*[F.lit(float(q)) for q in qs]).alias("q"),
            *[F.col(c) for c in cols],
        )
        return wide.select(F.explode(zipped).alias("z")).select(
            F.col("z.q").alias("q"), *[F.col(f"z.{c}").alias(c) for c in cols]
        )
    # EXACT path (r13): bounded-memory histogram refinement instead of
    # Spark's percentile aggregate, whose on-heap value→count map is
    # invisible to the memory manager and was the engine's one measured
    # OOM at constrained heaps (SCALE.md r12). orderstats computes the
    # exact order statistics with state = bins, and the interpolation
    # reproduces percentile's double arithmetic bit-for-bit.
    if interpolation == "linear":
        _, vals = orderstats.exact_quantile_values(df, cols, qs)
        rows = [
            tuple([float(q)] + [vals[c][i] for c in cols])
            for i, q in enumerate(qs)
        ]
    else:
        def _ranks(n: int):
            out = set()
            for q in qs:
                out.update(_mode_indices(interpolation, (n - 1) * float(q)))
            return out

        counts, values = orderstats.order_stats(df, {c: _ranks for c in cols})
        rows = []
        for q in qs:
            cells = []
            for c in cols:
                n = counts[c]
                if n == 0:
                    cells.append(None)
                    continue
                idxs = _mode_indices(interpolation, (n - 1) * float(q))
                picked = [values[c][k] for k in idxs]
                cells.append(
                    (picked[0] + picked[1]) / 2.0
                    if interpolation == "midpoint" else picked[0]
                )
            rows.append(tuple([float(q)] + cells))
    schema = T.StructType(
        [T.StructField("q", T.DoubleType())]
        + [T.StructField(c, T.DoubleType()) for c in cols]
    )
    return df.sparkSession.createDataFrame(rows, schema)


#: dtype-category tokens accepted by describe_exact include=/exclude=
#: (pandas maps np.number/'O'/etc.; the string tokens cover the same space)
_DESCRIBE_CATS = {"number", "object", "string", "datetime", "bool", "all"}


def quantile_interp_multi(
    df: DataFrame,
    cols: Sequence[str],
    qs: Sequence[float],
    modes: Sequence[str],
) -> DataFrame:
    """Every non-linear interpolation mode from ONE shared set of
    bounded-memory refinement scans (r13; r9 had fused the per-mode
    calls into one count scan + one percentile aggregate — that
    aggregate's unmanaged on-heap map is now gone, see orderstats). All
    modes pick data points (or a midpoint) from the SAME sorted order,
    so their target indices union into one :func:`orderstats.
    order_stats` call; the values are the exact data points the
    DuckDB index oracle selects. Output: (mode, q, *cols), one row per
    mode × q."""
    for m in modes:
        if m not in _QUANTILE_INTERP or m == "linear":
            raise ValueError(f"quantile_interp_multi: non-linear modes only, got {m!r}")

    def _ranks(n: int):
        out = set()
        for m in modes:
            for q in qs:
                out.update(_mode_indices(m, (n - 1) * float(q)))
        return out

    counts, values = orderstats.order_stats(df, {c: _ranks for c in cols})
    rows = []
    for m in modes:
        for q in qs:
            cells = []
            for c in cols:
                n = counts[c]
                if n == 0:
                    cells.append(None)
                    continue
                idxs = _mode_indices(m, (n - 1) * float(q))
                picked = [values[c][k] for k in idxs]
                cells.append(
                    (picked[0] + picked[1]) / 2.0 if m == "midpoint"
                    else picked[0]
                )
            rows.append(tuple([m, float(q)] + cells))
    schema = T.StructType(
        [T.StructField("mode", T.StringType()),
         T.StructField("q", T.DoubleType())]
        + [T.StructField(c, T.DoubleType()) for c in cols]
    )
    return df.sparkSession.createDataFrame(rows, schema)


def _describe_category(dtype: str) -> str:
    if dtype in ("string",) or dtype.startswith("varchar") or dtype.startswith("char"):
        return "object"
    if dtype in ("boolean",):
        return "bool"
    if dtype in ("timestamp", "date", "timestamp_ntz"):
        return "datetime"
    if dtype.startswith("decimal") or dtype in (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    ):
        return "number"
    return "other"  # arrays/maps/structs/binary: never auto-described


def _describe_split(df, cols, include, exclude):
    """Resolve (numeric_cols, object_cols) per pandas describe dtype
    selection. 'object'/'string'/'bool'/'datetime' columns all take the
    count/unique/top/freq path (datetime deliberately so — documented
    deviation from pandas 2's numeric datetime describe; a distributed
    mean-of-timestamps is rarely what a profiling call wants)."""
    inc = {include} if isinstance(include, str) else set(include or ())
    exc = {exclude} if isinstance(exclude, str) else set(exclude or ())
    inc = {"string" if t == "object" else t for t in inc}
    exc = {"string" if t == "object" else t for t in exc}
    for t in inc | exc:
        if t not in _DESCRIBE_CATS and t != "string":
            raise ValueError(f"unknown dtype category {t!r}; known: {sorted(_DESCRIBE_CATS)}")
    if inc & exc:
        raise ValueError(f"include and exclude overlap: {sorted(inc & exc)}")
    dtypes = dict(df.dtypes)
    pool = list(cols) if cols is not None else list(df.columns)
    raw_cats = {c: _describe_category(dtypes[c]) for c in pool}

    def _selected(c):
        rc = raw_cats[c]
        rc_tok = "string" if rc == "object" else rc
        if rc == "other":
            return False
        if "all" in inc:
            return True
        if inc:
            return rc_tok in inc or (rc in ("object",) and "string" in inc)
        if exc:
            return rc_tok not in exc
        # default: numeric only, unless nothing numeric is present
        return rc == "number"

    chosen = [c for c in pool if _selected(c)]
    if not chosen and not inc and not exc:
        chosen = [c for c in pool if raw_cats[c] != "other"]  # pandas all-object fallback
    num = [c for c in chosen if raw_cats[c] == "number"]
    obj = [c for c in chosen if raw_cats[c] != "number"]
    return num, obj


def _pct_label(p: float) -> str:
    return f"{p * 100:g}%"


def describe_exact(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    percentiles: Sequence[float] | None = None,
    include=None,
    exclude=None,
) -> DataFrame:
    """pandas-style describe with *exact* percentiles.

    ``df.summary()`` uses approximate percentiles; the reference's
    p_describe (parallel_dataframe.py:432-462) forwards
    ``percentiles``/``include``/``exclude`` straight to pandas, so all
    three are honored here: custom percentile rows (0.5 injected like
    pandas), dtype-category selection, and the pandas mixed-frame row set
    — ``count/unique/top/freq`` for non-numeric columns (NULL cells where
    a stat does not apply). Long format: one row per statistic.

    Plan shape: ONE aggregation computes every numeric (stat, col) cell
    plus non-numeric count/countDistinct, after two eager passes whose
    results enter it as literals: the exact percentiles
    (:func:`orderstats.exact_quantile_values`) and the ``std`` row
    (:func:`exact_moments`, the kernel ``p_std`` uses, so the two agree
    bit for bit at any partitioning); ``top``/``freq`` for ALL
    non-numeric columns come from ONE extra GROUPING SETS scan (max count,
    ties -> smallest value: pandas' deterministic first mode); the long
    format is a zero-cost stack of the single wide row.
    """
    num_cols, obj_cols = _describe_split(df, cols, include, exclude)
    if not num_cols and not obj_cols:
        raise ValueError("no columns selected to describe")
    if percentiles is None:
        ps = [0.25, 0.5, 0.75]
    else:
        ps = sorted({float(p) for p in percentiles} | {0.5})
        if any(p < 0 or p > 1 for p in ps):
            raise ValueError("percentiles must all be in [0, 1]")

    # exact percentiles via bounded-memory refinement (r13): they enter
    # the wide row as literals — Spark's percentile aggregate held an
    # unmanaged on-heap map that was the engine's one measured OOM
    pct_vals = (
        orderstats.exact_quantile_values(df, num_cols, ps)[1]
        if num_cols else {}
    )
    # ... and so does std, from the exact-moment pass p_std uses
    mom = exact_moments(df, num_cols)
    aggs = []
    for c in num_cols:
        src = nan_safe(df, c)
        aggs += [
            F.count(src).cast("double").alias(f"__cnt_{c}"),
            F.avg(src).alias(f"__mean_{c}"),
            F.lit(mom[c].stat("std")).cast("double").alias(f"__std_{c}"),
            F.min(src).cast("double").alias(f"__min_{c}"),
            F.max(src).cast("double").alias(f"__max_{c}"),
            F.array(
                *[F.lit(v).cast("double") for v in pct_vals[c]]
            ).alias(f"__pcts_{c}"),
        ]
    for c in obj_cols:
        aggs += [
            F.count(c).alias(f"__cnt_{c}"),
            F.countDistinct(c).alias(f"__uniq_{c}"),
        ]
    wide = df.agg(*aggs)

    if obj_cols:
        k = len(obj_cols)
        gs = df.groupingSets([[c] for c in obj_cols], *obj_cols).agg(
            F.count("*").alias("cnt"), F.grouping_id().alias("gid")
        )
        picks = []
        for i, c in enumerate(obj_cols):
            gid_i = (2**k - 1) ^ (2 ** (k - 1 - i))
            picks.append(
                F.min(
                    F.when(
                        (F.col("gid") == gid_i) & F.col(c).isNotNull(),
                        F.struct(
                            (-F.col("cnt")).alias("nc"),
                            F.col(c).cast("string").alias("v"),
                        ),
                    )
                ).alias(f"__m_{c}")
            )
        modes = gs.agg(*picks).select(
            *[F.col(f"__m_{c}.v").alias(f"__top_{c}") for c in obj_cols],
            *[(-F.col(f"__m_{c}.nc")).alias(f"__freq_{c}") for c in obj_cols],
        )
        wide = wide.crossJoin(F.broadcast(modes))

    labels = ["count"]
    if obj_cols:
        labels += ["unique", "top", "freq"]
    if num_cols:
        labels += ["mean", "std", "min"] + [_pct_label(p) for p in ps] + ["max"]

    def _cell(label: str, c: str) -> str:
        if c in num_cols:
            if label == "count":
                return f"`__cnt_{c}`"
            if label in ("mean", "std", "min", "max"):
                return f"`__{label}_{c}`"
            if label.endswith("%"):
                idx = labels.index(label) - labels.index(_pct_label(ps[0])) + 1
                return f"element_at(`__pcts_{c}`, {idx})"
            return "CAST(NULL AS DOUBLE)"
        if label == "count":
            return f"CAST(`__cnt_{c}` AS STRING)"
        if label == "unique":
            return f"CAST(`__uniq_{c}` AS STRING)"
        if label == "top":
            return f"`__top_{c}`"
        if label == "freq":
            return f"CAST(`__freq_{c}` AS STRING)"
        return "CAST(NULL AS STRING)"

    out_cols = [c for c in (cols if cols is not None else df.columns) if c in num_cols or c in obj_cols]
    stack_rows = ", ".join(
        f"'{label}', " + ", ".join(_cell(label, c) for c in out_cols)
        for label in labels
    )
    names = ", ".join(f"`{c}`" for c in out_cols)
    return wide.selectExpr(
        f"stack({len(labels)}, {stack_rows}) as (summary, {names})"
    )


def mad(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Mean absolute deviation per column (reference p_mad,
    parallel_dataframe.py:502-522). Two aggregation passes — means first,
    then mean(|x - mean|) — composed via a broadcast cross join, so the
    second pass is still a single scan with map-side partials."""
    means = df.agg(*[F.avg(nan_safe(df, c)).alias(f"__mean_{c}") for c in cols])
    joined = df.crossJoin(F.broadcast(means))
    return joined.agg(
        *[
            F.avg(F.abs(nan_safe(df, c) - F.col(f"__mean_{c}"))).alias(f"{c}_mad")
            for c in cols
        ]
    )


def mode(df: DataFrame, col: str, tie: str = "min") -> DataFrame:
    """Most frequent value; ties broken deterministically (lowest value by
    default — pandas returns *all* tied modes sorted, so 'min' equals
    pandas' first mode). Reference p_mode: parallel_dataframe.py:625-647.
    """
    keep = F.col(col).isNotNull()
    if _floating(df, col):
        keep = keep & ~F.isnan(F.col(col))  # pandas mode drops NaN
    counts = df.where(keep).groupBy(col).agg(F.count("*").alias("cnt"))
    pick = F.min(col) if tie == "min" else F.max(col)
    best = counts.agg(F.max("cnt").alias("cnt"))
    return (
        counts.join(F.broadcast(best), "cnt")
        .agg(pick.alias(f"{col}_mode"), F.max("cnt").alias("mode_count"))
    )


def idx_extreme(
    df: DataFrame, value_col: str, id_col: str, largest: bool = True
) -> Column:
    """Aggregate expression: id of the max/min value, ties -> smallest id.

    pandas p_idxmax/p_idxmin return the *index label* of the extreme
    (parallel_dataframe.py:525-568); the explicit id column replaces the
    index (SURVEY.md §1.4). Implemented as a single-pass ``max(struct)`` —
    struct comparison orders by value first, then by negated id, so the
    smallest id among ties wins, deterministically, with no second scan.
    """
    v = nan_safe(df, value_col)  # pandas idxmax/idxmin skip NaN rows
    i = F.col(id_col).cast("long")
    if largest:
        pair = F.when(v.isNotNull(), F.struct(v.alias("v"), (-i).alias("ni")))
        return F.max(pair).getField("ni").cast("long") * -1
    pair = F.when(v.isNotNull(), F.struct(v.alias("v"), i.alias("i")))
    return F.min(pair).getField("i")


def idxmax(df: DataFrame, value_cols: Sequence[str], id_col: str) -> DataFrame:
    return df.agg(
        *[idx_extreme(df, c, id_col, largest=True).alias(f"{c}_idxmax") for c in value_cols]
    )


def idxmin(df: DataFrame, value_cols: Sequence[str], id_col: str) -> DataFrame:
    return df.agg(
        *[idx_extreme(df, c, id_col, largest=False).alias(f"{c}_idxmin") for c in value_cols]
    )


def nunique(df: DataFrame, cols: Sequence[str], approx: bool = False) -> DataFrame:
    """Distinct count per column (reference p_nunique,
    parallel_dataframe.py:492-499). ``approx=True`` uses HyperLogLog++
    (single-pass, mergeable sketch) — the right call at 100 TB where exact
    per-column distinct forces a shuffle per column."""
    fn = F.approx_count_distinct if approx else F.countDistinct
    # pandas nunique(dropna=True) excludes NaN; Spark counts it as a value
    return df.agg(*[fn(nan_safe(df, c)).alias(f"{c}_nunique") for c in cols])


def corr_matrix(
    df: DataFrame,
    cols: Sequence[str],
    method="pearson",
    round_to: int | None = None,
    min_periods: int | None = None,
) -> DataFrame:
    """Long-format pairwise correlation (col_x, col_y, corr).

    Reference p_corr (parallel_dataframe.py:186-325) precomputes sufficient
    statistics and fans the C(k,2) pairs across the pool; Spark's ``corr``
    aggregate does the same one-pass moment computation per pair inside a
    single ``agg`` — one scan for the whole matrix.

    pearson: native ``corr``. spearman: columns are rank-transformed
    (average ranks, matching ``pandas.rank(method='average')``) with window
    expressions, then pearson on the ranks. kendall: every pair through
    ONE run of the keyed exact kernel
    (:func:`kendall.kendall_tau_exact_multi`); :func:`kendall_tau` adds a
    hash-sampled single pair. A CALLABLE ``method`` takes the pairwise
    applyInPandas fallback (see :func:`_corr_matrix_callable`) — pandas
    ``corr(method=callable)`` semantics, one task per pair.

    ``min_periods`` (reference parallel_dataframe.py:186-231): a pair's
    correlation is NULL unless its pairwise-complete row count reaches the
    threshold — a CASE guard on a per-pair conditional count, still one
    scan.

    Missing data: NaN is normalized to NULL at entry and every method is
    pairwise-complete over NULLs. Known divergence (deliberate): for
    SPEARMAN with missing values, pandas re-ranks each pair's complete
    subset (nancorr_spearman), which would serialize every pair's full
    column through one task at scale; we rank each column once (missing
    rows excluded from ranking) and pairwise-delete afterwards, so
    spearman values differ slightly when one column's missing rows don't
    coincide with its partner's. With no missing data the results are
    identical.
    """
    # normalize TRUE NaN -> NULL once at entry: every branch below already
    # implements pairwise-complete semantics for NULLs (F.corr skips a row
    # when either side is NULL; _pair_long filters), and pandas treats NaN
    # as missing in corr
    for c in cols:
        if _floating(df, c):
            df = df.withColumn(c, nan_safe(df, c))
    if callable(method):
        return _corr_matrix_callable(df, cols, method, round_to, min_periods)
    if method == "kendall":
        from .kendall import kendall_tau_exact_multi

        # full pandas p_corr parity: ONE explode builds the pair-long frame
        # (single input scan for every pair), and ONE keyed kernel run
        # computes every pair's τ-b — the former per-pair pipeline union
        # re-scanned the input C(k,2) times.
        longf = _pair_long(df, cols)
        res = kendall_tau_exact_multi(longf, "pid", "x", "y")
        e = F.col("tau")
        if min_periods is not None:
            e = F.when(F.col("n") >= F.lit(min_periods), e)
        if round_to is not None:
            e = F.round(e, round_to)
        # seed-join so pairs with zero complete rows still yield a NULL row
        return (
            _pair_seed(df.sparkSession, cols)
            .join(res, "pid", "left")
            .select("col_x", "col_y", e.alias("corr"))
        )
    if method == "spearman":
        from .ordered import global_avg_rank

        # range-partitioned global average rank — every stage parallel;
        # the old Window.orderBy(col)-without-partition form serialized
        # the whole input through ONE task per column
        for c in cols:
            df = global_avg_rank(df, c, out_col=f"__rank_{c}")
        colmap = {c: f"__rank_{c}" for c in cols}
    elif method == "pearson":
        colmap = {c: c for c in cols}
    else:
        raise ValueError(f"method {method!r} not supported here; use kendall_tau()")

    exprs = []
    names = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            e = F.corr(colmap[a], colmap[b])
            if min_periods is not None:
                both = F.when(
                    F.col(colmap[a]).isNotNull() & F.col(colmap[b]).isNotNull(), 1
                )
                e = F.when(F.count(both) >= F.lit(min_periods), e)
            if round_to is not None:
                e = F.round(e, round_to)
            exprs.append(e.alias(f"{a}__{b}"))
            names.append((a, b))
    wide = df.agg(*exprs)
    # unpivot to long form
    stack_args = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in names)
    return wide.selectExpr(
        f"stack({len(names)}, {stack_args}) as (col_x, col_y, corr)"
    )


def cov_matrix(
    df: DataFrame,
    cols: Sequence[str],
    min_periods: int | None = None,
    ddof: int = 1,
) -> DataFrame:
    """Long-format pairwise covariance ``(col_x, col_y, cov)`` including
    the diagonal (variance) — pandas ``df.cov(min_periods=, ddof=)``.

    Same one-scan shape as :func:`corr_matrix` pearson: every (i<=j) pair
    is one ``covar_samp`` aggregate in a single ``agg`` — map-side partial
    moments, one pass. Pairwise-complete over missing values (NULL or
    TRUE NaN on either side drops the row for that pair only), exactly
    pandas. General ``ddof`` rescales the ddof=1 native aggregate by
    (n−1)/(n−ddof) with n the pair's complete-row count.

    Documented divergence (twin-tested): pandas 2.x honors ``ddof`` only
    on its dense path — any NaN in the frame routes to ``nancorr``, which
    hardcodes the n−1 divisor and silently ignores ``ddof``. We apply
    ``ddof`` uniformly (the dense-path / np.cov generalization), so for
    NaN-bearing frames with ddof≠1 we return the mathematically-intended
    value, not pandas' quirk.
    """
    for c in cols:
        if _floating(df, c):
            df = df.withColumn(c, nan_safe(df, c))
    exprs, names = [], []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            e = F.covar_samp(a, b)
            both = F.when(F.col(a).isNotNull() & F.col(b).isNotNull(), 1)
            n = F.count(both)
            if ddof != 1:
                e = e * (n - F.lit(1)) / (n - F.lit(ddof))
            if min_periods is not None:
                e = F.when(n >= F.lit(min_periods), e)
            exprs.append(e.alias(f"{a}__{b}"))
            names.append((a, b))
    wide = df.agg(*exprs)
    stack_args = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in names)
    return wide.selectExpr(
        f"stack({len(names)}, {stack_args}) as (col_x, col_y, cov)"
    )


def corr_with(
    df: DataFrame,
    pairs: Sequence[tuple[str, str]],
    min_periods: int | None = None,
) -> DataFrame:
    """pandas ``DataFrame.corrwith`` re-expressed for explicit column
    pairs: one row ``(col_a, col_b, corr)`` per requested pair, ALL pairs
    in ONE aggregation pass (map-side partial moments — the same one-scan
    shape as :func:`cov_matrix`). Pairwise-complete over missing values
    (NULL or TRUE NaN on either side drops the row for that pair only),
    exactly pandas. pandas aligns on index/column labels; the distributed
    contract takes the pair list explicitly (SURVEY.md §1.4)."""
    exprs, names = [], []
    work = df
    safe: dict[str, str] = {}
    for a, b in pairs:
        for c in (a, b):
            if c not in safe:
                if _floating(df, c):
                    work = work.withColumn(f"__cw_{c}", nan_safe(df, c))
                    safe[c] = f"__cw_{c}"
                else:
                    safe[c] = c
    for a, b in pairs:
        e = F.corr(safe[a], safe[b])
        if min_periods is not None:
            both = F.when(
                F.col(safe[a]).isNotNull() & F.col(safe[b]).isNotNull(), 1
            )
            e = F.when(F.count(both) >= F.lit(min_periods), e)
        exprs.append(e.alias(f"{a}__{b}"))
        names.append((a, b))
    wide = work.agg(*exprs)
    stack_args = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in names)
    return wide.selectExpr(
        f"stack({len(names)}, {stack_args}) as (col_a, col_b, corr)"
    )


def _pairs_of(cols: Sequence[str]) -> list[tuple[int, str, str]]:
    return [
        (i * len(cols) + j, a, b)
        for i, a in enumerate(cols)
        for j, b in enumerate(cols)
        if j > i
    ]


def _pair_long(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pair-long frame ``(pid, col_x, col_y, x, y)`` built in ONE pass: each
    input row explodes over a literal array of C(k,2) per-pair structs, then
    non-pairwise-complete rows are filtered. One scan of the input feeds
    every pair — the union-of-per-pair-selects shape this replaces scanned
    the input once per pair."""
    structs = F.array(
        *[
            F.struct(
                F.lit(pid).alias("pid"),
                F.col(a).cast("double").alias("x"),
                F.col(b).cast("double").alias("y"),
            )
            for pid, a, b in _pairs_of(cols)
        ]
    )
    return (
        df.select(F.explode(structs).alias("p"))
        .select("p.pid", "p.x", "p.y")
        # pairwise-complete: pandas corr drops a pair-row when either side
        # is missing — and a TRUE NaN is missing, not a value
        .where(
            F.col("x").isNotNull() & F.col("y").isNotNull()
            & ~F.isnan("x") & ~F.isnan("y")
        )
    )


def _pair_seed(spark, cols: Sequence[str]) -> DataFrame:
    """Tiny literal frame of every pair ``(pid, col_x, col_y)`` — the
    left side of the seed join that guarantees a row per pair even when a
    pair has zero pairwise-complete input rows (pandas emits NaN there;
    a missing row would silently under-report)."""
    return (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(pid).alias("pid"),
                            F.lit(a).alias("col_x"),
                            F.lit(b).alias("col_y"),
                        )
                        for pid, a, b in _pairs_of(cols)
                    ]
                )
            ).alias("p")
        )
        .select("p.pid", "p.col_x", "p.col_y")
    )


def _corr_matrix_callable(
    df: DataFrame,
    cols: Sequence[str],
    func,
    round_to: int | None = None,
    min_periods: int | None = None,
) -> DataFrame:
    """Arbitrary-callable correlation (reference p_corr ``method=callable``,
    parallel_dataframe.py:186-231 — the reference fans the C(k,2) pairs
    across its pool; here each pair is one applyInPandas task, so pairs run
    in parallel). The callable sees two aligned float64 numpy arrays (the
    pair's pairwise-complete rows, (x, y)-sorted so the call is
    deterministic under shuffle) and returns a scalar.

    The pair-long frame is built by ONE explode over a literal struct array
    (:func:`_pair_long`) — a single scan of the input regardless of k — and
    the result is seed-joined against the full pair list, so a pair with
    zero pairwise-complete rows yields a NULL row (pandas: NaN) instead of
    silently disappearing; below-``min_periods`` pairs are NULL too, the
    same 'insufficient data' encoding as the native pearson/kendall arms.

    Scale note: an opaque callable forces the pair's complete rows into one
    task (the reference holds them in one process too) — at corpus scale,
    hash-sample first (sampling.hash_sample) exactly as with kendall.
    """
    import pandas as pd

    longf = _pair_long(df, cols)
    mp = 1 if min_periods is None else int(min_periods)

    def _pair(key, pdf):
        if len(pdf) < max(mp, 2):
            v = None
        else:
            pdf = pdf.sort_values(["x", "y"], kind="mergesort")
            v = float(func(pdf["x"].to_numpy(), pdf["y"].to_numpy()))
        return pd.DataFrame({"pid": [key[0]], "corr": [v]}, dtype="object")

    res = longf.groupBy("pid").applyInPandas(_pair, "pid long, corr double")
    e = F.col("corr")
    if round_to is not None:
        e = F.round(e, round_to)
    return (
        _pair_seed(df.sparkSession, cols)
        .join(res, "pid", "left")
        .select("col_x", "col_y", e.alias("corr"))
    )


def kendall_tau(
    df: DataFrame,
    col_a: str,
    col_b: str,
    sample_mod: int = 1,
    id_cols: Sequence[str] | None = None,
    seed: int = 0,
    num_buckets: int = 64,
) -> DataFrame:
    """Kendall's τ-b for one pair, optionally on a deterministic hash
    sample (reference: exact O(n²) numba kernel, _numba.py:7-158).

    The statistic is computed by the fully distributed exact kernel
    (:func:`kendall.kendall_tau_exact` — one range partitioning, a
    per-partition merge-count pass and one keyed finish; no O(n²) stage,
    no single-task reducer, no checkpoint), so the only approximation is
    the sampling itself. ``sample_mod > 1`` keeps a row iff
    ``md5(id_cols) % sample_mod == 0`` — a pure content hash, reproducible
    on any cluster layout AND replayable by a SQL oracle (md5 exists in
    every engine; the former xxhash64 gate did not). ``id_cols`` defaults
    to the value columns themselves.

    Returns a 1-row DataFrame ``(n, d, tau)``: sampled-row count, exact
    discordant pairs on the sample, and τ-b of the sample.
    """
    from .dedup import md5_long
    from .kendall import kendall_tau_exact

    d = df
    if sample_mod > 1:
        keys = list(id_cols) if id_cols else [col_a, col_b]
        # NULL keys: concat_ws would silently SKIP a NULL column (so
        # ('a', NULL) hashes like ('a',)), while a SQL '||' replay nulls
        # the whole key and drops the row — coalesce each part to an
        # explicit sentinel so sample membership is well-defined and
        # identical in both engines (oracle: COALESCE(CAST(k AS VARCHAR),
        # chr(0) || 'null')).
        key = F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in keys],
        )
        d = d.where(F.pmod(md5_long(key, seed=seed), F.lit(sample_mod)) == 0)
    d = d.select(col_a, col_b).dropna()
    return kendall_tau_exact(d, col_a, col_b, num_buckets=num_buckets)


def quantile_axis1(
    df: DataFrame,
    cols: Sequence[str],
    qs: Sequence[float],
    keep: Sequence[str] = (),
) -> DataFrame:
    """Row-wise quantiles — pandas ``df.quantile(q, axis=1)`` with the
    default linear interpolation, the reference README's HEADLINE
    benchmark shape (1M x 100, README.md:23-40; registered via
    ``p_quantile`` main.py). Per row: filter the value array to non-null
    non-NaN (pandas skips NaN per row), one ``array_sort``, then each q
    interpolates ``arr[lo]*(1-frac) + arr[lo+1]*frac`` at
    ``pos = q*(n-1)`` — all JVM array expressions inside one projection,
    zero shuffle, embarrassingly parallel at any scale. Output: ``keep``
    columns plus one ``q_<pct>`` double per requested quantile."""
    vals = F.filter(
        F.array(*[F.col(c).cast("double") for c in cols]),
        lambda x: x.isNotNull() & ~F.isnan(x),
    )
    out = df.select(*keep, F.array_sort(vals).alias("__arr"))
    n = F.size(F.col("__arr"))
    exprs = []
    for q in qs:
        pos = F.lit(float(q)) * (n.cast("double") - F.lit(1.0))
        lo = F.floor(pos).cast("int")
        frac = pos - F.floor(pos)
        lov = F.element_at(F.col("__arr"), lo + F.lit(1))
        hiv = F.element_at(F.col("__arr"), F.least(lo + F.lit(2), n))
        exprs.append(
            F.when(n == 0, F.lit(None).cast("double"))
            .otherwise(lov * (F.lit(1.0) - frac) + hiv * frac)
            .alias(f"q_{int(round(float(q) * 100))}")
        )
    return out.select(*keep, *exprs)


def zscore_normalize(df: DataFrame, cols: Sequence[str], ddof: int = 1) -> DataFrame:
    """(x - mean)/std per column — the reference README's headline benchmark
    (README.md:137-169). One aggregation pass for the moments, broadcast
    back, one projection pass: two scans total, no shuffle of the data
    itself, scales linearly."""
    stdfn = F.stddev_samp if ddof == 1 else F.stddev_pop
    moments = df.agg(
        *[F.avg(nan_safe(df, c)).alias(f"__mean_{c}") for c in cols],
        *[stdfn(nan_safe(df, c)).alias(f"__std_{c}") for c in cols],
    )
    # ONE select, not a withColumn per column: at the reference's own
    # benchmark shape (1M x 1000) a chained-Project tower makes Catalyst
    # analysis itself the bottleneck (r16; see the expression-size notes
    # in SCALE.md) — the single projection is the same plan, minus the
    # O(n_cols) analyzer passes.
    colset = set(cols)
    out = df.crossJoin(F.broadcast(moments)).select(
        *[
            ((F.col(c) - F.col(f"__mean_{c}")) / F.col(f"__std_{c}")).alias(c)
            if c in colset else F.col(c)
            for c in df.columns
        ]
    )
    return out


def replace_values(
    df: DataFrame,
    mapping: dict,
    subset: Sequence[str] | None = None,
    regex: bool = False,
) -> DataFrame:
    """Value replacement (reference p_replace, parallel_dataframe.py:364-385)
    — native ``DataFrame.replace`` (JVM-side chained CASE WHEN).

    ``regex=True`` treats ``mapping`` as ``{pattern: replacement}`` and
    applies each as a JVM-side ``regexp_replace`` substitution (pandas'
    ``re.sub`` semantics: every match within the string is replaced) over
    the string columns in ``subset`` (default: all string columns).
    Patterns are applied in mapping order, like pandas' sequential
    replace_list pass. Replacement strings use ``re.sub`` syntax and are
    TRANSLATED to Java's: ``\\1`` / ``\\g<1>`` become ``$1`` and literal
    ``$`` is escaped — without this, a replacement like ``'cost: $1'``
    (literal in pandas) would be read by the JVM as a group reference and
    fail the job at runtime."""
    if regex:
        cols = list(subset) if subset else [c for c, t in df.dtypes if t == "string"]
        for c in cols:
            e = F.col(c)
            for pat, repl in mapping.items():
                e = F.regexp_replace(e, pat, _java_repl(repl))
            df = df.withColumn(c, e)
        return df
    return df.replace(mapping, subset=list(subset) if subset else None)


def _java_repl(repl: str) -> str:
    """Translate a python ``re.sub`` replacement string to Java
    ``Matcher.replaceAll`` syntax: ``\\N`` and ``\\g<N>`` group references
    become ``$N``; literal ``$`` and stray backslashes are escaped."""
    out: list[str] = []
    i, n = 0, len(repl)
    while i < n:
        ch = repl[i]
        if ch == "$":
            out.append("\\$")
        elif ch == "\\" and i + 1 < n:
            nxt = repl[i + 1]
            if nxt.isdigit():
                j = i + 1
                while j < n and repl[j].isdigit():
                    j += 1
                out.append("$" + repl[i + 1 : j])
                i = j - 1
            elif nxt == "g" and repl[i + 2 : i + 3] == "<":
                j = repl.index(">", i + 3)
                ref = repl[i + 3 : j]
                # Java named-group references need braces: ${name} (bare
                # $name is rejected by Matcher.replaceAll) — but NUMERIC
                # refs must stay bare: ${1} is an invalid group NAME
                out.append(("$" + ref) if ref.isdigit() else ("${" + ref + "}"))
                i = j
            elif nxt == "\\":
                out.append("\\\\")
                i += 1
            else:  # \n, \t etc. — keep the escape for Java to interpret
                out.append("\\" + nxt)
                i += 1
        elif ch == "\\":
            out.append("\\\\")
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def replace_fill(
    df: DataFrame,
    col: str,
    to_replace: Sequence,
    method: str = "ffill",
    order_by: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
    limit: int | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """pandas ``replace(to_replace, method='ffill'/'bfill', limit=n)``
    (reference p_replace forwards both, parallel_dataframe.py:373-385):
    listed values are erased and filled from the previous ('ffill'/'pad')
    or next ('bfill') surviving value along an explicit order.

    pandas fills along implicit row order; a distributed frame needs the
    order spelled out (SURVEY.md §1.4), so ``order_by`` is required and
    ``partition_by`` keeps the window partitioned (scale-safe — omitting it
    funnels every row through one task, so it is deliberately not a
    default).

    Exact pandas ``pad_inplace(values, mask, limit)`` semantics (verified
    against pandas 2.2.2, incl. a randomized differential test):
    - only rows whose value is in ``to_replace`` change; a pre-existing
      NULL is NEITHER filled NOR skipped over — it can itself be the
      donor (so ['a', NULL, 'P'] ffills to ['a', NULL, NULL]);
    - fills cascade: the donor of a masked run is the last NON-masked
      row before the run; a run at the partition EDGE (no donor) fills
      from the edge row's ORIGINAL value — pandas seeds its carry with
      ``values[0]`` before any mask check, so a leading masked run
      "fills" with its own first original;
    - ``limit`` bounds the number of filled rows per run (1-based run
      position); rows beyond it keep their original value — nothing ever
      becomes NULL that wasn't."""
    from pyspark.sql import Window

    if not order_by:
        raise ValueError("replace_fill needs an explicit order_by")
    if col is None:
        raise ValueError("replace_fill needs the target column name (col=)")
    # null-safe: isin(NULL) is NULL, which would drop NULL rows out of the
    # ~mask branch and fill them — pandas leaves pre-existing NULLs alone
    mask = F.coalesce(F.col(col).isin(list(to_replace)), F.lit(False))
    w = Window.partitionBy(*(partition_by or [])).orderBy(*order_by)
    whole = Window.partitionBy(*(partition_by or []))
    rn = F.row_number().over(w)
    n_all = F.count(F.lit(1)).over(whole)
    donor = F.when(~mask, F.struct(rn.alias("rn"), F.col(col).alias("v")))
    if method in ("ffill", "pad"):
        d = F.last(donor, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        edge = F.first(F.col(col)).over(w.rowsBetween(Window.unboundedPreceding, 0))
        dist = rn - F.coalesce(d["rn"], F.lit(0))  # no donor → 1-based run pos
    elif method in ("bfill", "backfill"):
        d = F.first(donor, ignorenulls=True).over(
            w.rowsBetween(0, Window.unboundedFollowing)
        )
        edge = F.last(F.col(col)).over(w.rowsBetween(0, Window.unboundedFollowing))
        dist = F.coalesce(d["rn"], n_all + 1) - rn
    else:
        raise ValueError(f"method must be ffill/pad/bfill/backfill, got {method!r}")
    fill_val = F.when(d.isNotNull(), d["v"]).otherwise(edge)
    in_reach = F.lit(True) if limit is None else dist <= int(limit)
    e = F.when(~mask, F.col(col)).when(in_reach, fill_val).otherwise(F.col(col))
    return df.withColumn(out_col or col, e)


def isin_filter(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """Membership predicate (reference p_isin, parallel_dataframe.py:690-711).
    Catalyst compiles small lists to IN / InSet and pushes them to the scan."""
    return df.where(F.col(col).isin(list(values)))


def value_counts(
    df: DataFrame,
    col: str,
    normalize: bool = False,
    ascending: bool = False,
    dropna: bool = True,
) -> DataFrame:
    """pandas ``Series.value_counts``: one grouped count over the column
    (map-side partial aggregation — hot values collapse before the
    shuffle), ordered (count, value) both directions deterministic — a
    total order, since the value is unique per group. ``normalize=True``
    divides by the total via a 1-row broadcast cross join, not a second
    scan. NULLs: pandas drops them unless ``dropna=False`` (a TRUE NaN
    counts as missing too; with ``dropna=False`` Spark's grouping
    normalizes NaN, so all NaNs form one group, like pandas)."""
    keep = F.col(col).isNotNull()
    if _floating(df, col):
        keep = keep & ~F.isnan(F.col(col))
    base = df.where(keep) if dropna else df
    counts = base.groupBy(F.col(col).alias("value")).agg(
        F.count("*").alias("count")
    )
    if normalize:
        total = base.agg(F.count("*").alias("__tot"))
        counts = counts.crossJoin(F.broadcast(total)).select(
            "value",
            (F.col("count") / F.col("__tot")).alias("proportion"),
        )
        measure = "proportion"
    else:
        measure = "count"
    order = (
        [F.col(measure).asc(), F.col("value").asc()]
        if ascending
        else [F.col(measure).desc(), F.col("value").asc()]
    )
    return counts.orderBy(*order)


def _drop_missing_rows(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Rows where ANY ranked column is missing (NULL or TRUE NaN) never
    enter a top-n: pandas nlargest/nsmallest excludes them entirely —
    and without this, asc ordering ranks NULL first and desc ordering
    ranks NaN first (Spark sorts NaN as the greatest double), so the
    'top' n fills with missing rows."""
    keep = None
    for c in cols:
        k = F.col(c).isNotNull()
        if _floating(df, c):
            k = k & ~F.isnan(F.col(c))
        keep = k if keep is None else (keep & k)
    return df.where(keep) if keep is not None else df


def nlargest(df: DataFrame, n: int, columns, tie_breaker=None) -> DataFrame:
    """pandas ``nlargest``: global top-n by the given column(s).
    ``orderBy().limit(n)`` plans as TakeOrderedAndProject — each task
    keeps an n-row heap and the driver merges heaps, so no global sort
    materializes (the shape that survives 100 TB for bounded n).
    Missing values (NULL / TRUE NaN) are excluded like pandas.
    pandas' ``keep='first'`` cuts boundary ties by input position, which
    no distributed engine can reproduce; pass ``tie_breaker`` columns
    (e.g. a key) to make the cut deterministic instead."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    order = [F.col(c).desc() for c in cols] + [
        F.col(c).asc() for c in (tie_breaker or [])
    ]
    return _drop_missing_rows(df, cols).orderBy(*order).limit(n)


def nsmallest(df: DataFrame, n: int, columns, tie_breaker=None) -> DataFrame:
    """pandas ``nsmallest`` — see :func:`nlargest`."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    order = [F.col(c).asc() for c in cols] + [
        F.col(c).asc() for c in (tie_breaker or [])
    ]
    return _drop_missing_rows(df, cols).orderBy(*order).limit(n)
