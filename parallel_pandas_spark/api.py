"""User-facing API parity layer: the reference's ``p_*`` method surface
over a Spark DataFrame.

The reference monkey-patches ``p_mean``/``p_apply``/… onto pandas classes
at ``ParallelPandas.initialize()`` (/root/reference/parallel_pandas/
main.py:58-267) and adds a ``.parallel`` accessor. Spark DataFrames are
immutable and shouldn't be patched; the equivalent ergonomic is a thin
wrapper: ``pdf = ParallelFrame(df)`` then ``pdf.p_mean()``,
``pdf.p_quantile([.25, .5])``, ``pdf.groupby("k").p_agg(...)``,
``pdf.rolling(7, order_by=[...]).p_mean()`` — each call delegates to the
operator modules and returns plain DataFrames (or a new wrapper), so
users keep full Spark interop.

Semantics notes mirrored from the reference:
- reductions skip NULLs (pandas skipna=True ↔ Spark null-ignoring aggs)
- ddof=1 defaults for std/var/sem
- ordered/window ops take explicit ``order_by`` — the engine's
  replacement for the implicit pandas row index (SURVEY.md §1.4)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import (
    elementwise,
    grouped,
    joins,
    ordered,
    reductions,
    sampling,
    windows,
)


class ParallelFrame:
    """Wrapper exposing the reference's p_* surface over a DataFrame."""

    _progress = False

    def __init__(self, df: DataFrame):
        self.df = df

    @classmethod
    def initialize(cls, progress_bar: bool = True) -> None:
        """Engine-level toggle mirroring ``ParallelPandas.initialize(
        disable_pr_bar=)`` (reference main.py:58-267): when on, the action
        helpers below run under :class:`~parallel_pandas_spark.progress.
        ProgressTracker` — live task counts from the driver-side status
        tracker (tqdm if installed), zero executor overhead."""
        cls._progress = progress_bar

    def _action(self, fn: Callable):
        if not ParallelFrame._progress:
            return fn()
        from .progress import ProgressTracker

        with ProgressTracker(self.df.sparkSession):
            return fn()

    # terminal actions (progress-aware; transformations stay lazy)
    def collect(self):
        return self._action(self.df.collect)

    def count(self) -> int:
        return self._action(self.df.count)

    def to_pandas(self):
        return self._action(self.df.toPandas)

    # -- §2.3 full-frame reductions (reference ops #7-#17) ----------------
    def _stats(self, cols: Sequence[str] | None, stat: str) -> DataFrame:
        cols = list(cols) if cols else self._numeric_cols()
        return reductions.agg_stats(self.df, cols, [stat])

    def _numeric_cols(self) -> list[str]:
        num = {"int", "bigint", "float", "double", "smallint", "tinyint"}
        return [c for c, t in self.df.dtypes if t in num]

    def p_min(self, cols=None):
        return self._stats(cols, "min")

    def p_max(self, cols=None):
        return self._stats(cols, "max")

    def p_mean(self, cols=None):
        return self._stats(cols, "mean")

    def p_median(self, cols=None):
        return self._stats(cols, "median")

    def p_sum(self, cols=None, min_count: int = 0):
        cols = list(cols) if cols else self._numeric_cols()
        return self.df.agg(
            *[reductions.sum_min_count(c, min_count, self.df).alias(f"{c}_sum") for c in cols]
        )

    def p_prod(self, cols=None, min_count: int = 0):
        cols = list(cols) if cols else self._numeric_cols()
        return self.df.agg(
            *[reductions.prod_min_count(c, min_count, self.df).alias(f"{c}_prod") for c in cols]
        )

    # std/var/sem divide by n - ddof; the columns are <col>_std (ddof 1),
    # <col>_std_pop (ddof 0) and <col>_std_ddof<k> otherwise
    def p_std(self, cols=None, ddof: int = 1):
        return self._stats(cols, reductions.moment_stat_name("std", ddof))

    def p_var(self, cols=None, ddof: int = 1):
        return self._stats(cols, reductions.moment_stat_name("var", ddof))

    def p_sem(self, cols=None, ddof: int = 1):
        return self._stats(cols, reductions.moment_stat_name("sem", ddof))

    def p_skew(self, cols=None):
        return self._stats(cols, "skew")

    def p_kurt(self, cols=None):
        return self._stats(cols, "kurt")

    def p_mad(self, cols=None):
        return reductions.mad(self.df, list(cols) if cols else self._numeric_cols())

    def p_nunique(self, cols=None, approx: bool = False):
        return reductions.nunique(
            self.df, list(cols) if cols else self.df.columns, approx=approx
        )

    def p_describe(self, cols=None):
        return reductions.describe_exact(
            self.df, list(cols) if cols else self._numeric_cols()
        )

    def p_quantile(self, q=0.5, cols=None, exact: bool = True,
                   interpolation: str = "linear"):
        qs = [q] if isinstance(q, (int, float)) else list(q)
        return reductions.quantile(
            self.df, list(cols) if cols else self._numeric_cols(), qs,
            exact=exact, interpolation=interpolation,
        )

    def p_mode(self, col: str):
        return reductions.mode(self.df, col)

    def p_idxmax(self, value_cols: Sequence[str], id_col: str):
        return reductions.idxmax(self.df, value_cols, id_col)

    def p_idxmin(self, value_cols: Sequence[str], id_col: str):
        return reductions.idxmin(self.df, value_cols, id_col)

    def p_corr(
        self,
        cols=None,
        method="pearson",
        round_to: int | None = None,
        min_periods: int | None = None,
    ):
        """Full reference p_corr surface (parallel_dataframe.py:186-325):
        method ∈ {'pearson','spearman','kendall'} or an arbitrary callable
        (pairwise applyInPandas fallback); ``min_periods`` nulls any pair
        whose pairwise-complete count is below the threshold."""
        return reductions.corr_matrix(
            self.df,
            list(cols) if cols else self._numeric_cols(),
            method,
            round_to,
            min_periods=min_periods,
        )

    def p_agg(self, spec):
        if isinstance(spec, (list, tuple)):
            # reference df.p_agg(["mean","std"]) — stats over all numeric cols
            spec = {c: list(spec) for c in self._numeric_cols()}
        return reductions.agg_cells(self.df, [
            (c, s)
            for c, stats in spec.items()
            for s in ([stats] if isinstance(stats, str) else stats)
        ])

    # -- §2.2 elementwise / UDF surface (reference ops #1-#5) -------------
    def p_apply(self, func: Callable, axis: int = 1, **kw):
        if axis == 1:
            return elementwise.apply_rows(self.df, func, **kw)
        return elementwise.apply_columns(self.df, self._numeric_cols(), func)

    def p_applymap(self, func: Callable, cols=None, **kw):
        return elementwise.applymap(
            self.df, func, list(cols) if cols else self._numeric_cols(), **kw
        )

    def p_map(self, col: str, arg, key_col: str | None = None,
              value_col: str | None = None, **kw):
        """reference Series.p_map (parallel_series.py:47-68): ``arg`` may
        be a callable, a dict (literal MAP lookup), or a Series — modeled
        as a (key, value) DataFrame/ParallelFrame with ``key_col`` /
        ``value_col`` naming the two columns (broadcast-join lookup)."""
        if isinstance(arg, dict):
            return elementwise.map_dict(self.df, col, arg, **kw)
        if isinstance(arg, (DataFrame, ParallelFrame)):
            lookup = arg.df if isinstance(arg, ParallelFrame) else arg
            kc, vc = key_col or lookup.columns[0], value_col or lookup.columns[1]
            return elementwise.map_series(self.df, col, lookup, kc, vc, **kw)
        return elementwise.map_elements(self.df, col, arg, out_col=f"{col}_mapped", **kw)

    def chunk_apply(self, func: Callable, schema, concat_result: bool = True):
        return elementwise.map_batches(self.df, func, schema, concat_result)

    def p_replace(
        self,
        mapping,
        subset=None,
        regex: bool = False,
        method: str | None = None,
        col: str | None = None,
        order_by=None,
        partition_by=None,
        limit: int | None = None,
    ):
        """Reference p_replace (parallel_dataframe.py:373-385). Dict
        ``mapping`` -> value replacement (``regex=True``: {pattern: repl}
        regexp substitution). ``method='ffill'/'bfill'`` treats ``mapping``
        as the list of values to erase-and-fill along ``order_by`` (with
        pandas' ``limit`` gap bound) in column ``col``."""
        if regex and method is not None:
            # the fill arm treats `mapping` as a value LIST; silently
            # winning over regex=True would hand the caller fill
            # semantics for what they wrote as a pattern substitution
            raise ValueError("p_replace: regex=True and method= are mutually exclusive")
        if method is not None:
            return ParallelFrame(
                reductions.replace_fill(
                    self.df, col, mapping, method=method, order_by=order_by,
                    partition_by=partition_by, limit=limit,
                )
            )
        return ParallelFrame(
            reductions.replace_values(self.df, mapping, subset, regex=regex)
        )

    def p_isin(self, col: str, values) -> "ParallelFrame":
        return ParallelFrame(reductions.isin_filter(self.df, col, values))

    # -- deterministic sampling (LLM-pipeline extension) -------------------
    def p_sample(self, id_cols, fraction: float, seed: int = 0) -> "ParallelFrame":
        return ParallelFrame(sampling.hash_sample(self.df, id_cols, fraction, seed))

    def p_stratified_sample(self, strata_col, fractions, id_cols, **kw) -> "ParallelFrame":
        return ParallelFrame(
            sampling.stratified_sample(self.df, strata_col, fractions, id_cols, **kw)
        )

    def p_sample_n(self, id_cols, n: int, seed: int = 0) -> "ParallelFrame":
        return ParallelFrame(sampling.sample_n(self.df, id_cols, n, seed))

    def p_stratified_sample_n(self, strata_col, id_cols, n: int,
                              seed: int = 0) -> "ParallelFrame":
        return ParallelFrame(
            sampling.stratified_sample_n(self.df, strata_col, id_cols, n, seed)
        )

    def p_train_test_split(self, id_cols, **kw) -> "ParallelFrame":
        return ParallelFrame(sampling.train_test_split(self.df, id_cols, **kw))

    def p_resample_by_weight(self, strata_col, weights, id_cols, **kw) -> "ParallelFrame":
        return ParallelFrame(
            sampling.resample_by_weight(self.df, strata_col, weights, id_cols, **kw)
        )

    def p_pack_sequences(self, id_cols, token_col, budget, **kw) -> "ParallelFrame":
        from .operators import packing

        return ParallelFrame(
            packing.pack_sequences(self.df, id_cols, token_col, budget, **kw)
        )

    # -- §2.5 grouped / §2.4 ordered / merges ------------------------------
    def groupby(self, *keys: str) -> "ParallelGroupBy":
        return ParallelGroupBy(self.df, list(keys))

    def p_pivot_table(self, **kw):
        return grouped.pivot_table(self.df, **kw)

    def p_merge(self, right, **kw):
        rdf = right.df if isinstance(right, ParallelFrame) else right
        return ParallelFrame(joins.merge(self.df, rdf, **kw))

    def p_rank(self, col: str, **kw):
        return ordered.rank(self.df, col, **kw)

    def p_scan_multi(self, specs, order_by, **kw) -> "ParallelFrame":
        """Several ordered-scan ops (cum*/shift/diff/pct_change/ffill/
        bfill) fused into the minimum WindowExec passes (see
        ordered.scan_multi)."""
        return ParallelFrame(ordered.scan_multi(self.df, specs, order_by, **kw))

    def p_rank_multi(self, col: str, specs, **kw):
        """Several rank variants of one column in one fused single-sort
        plan (see ordered.rank_multi)."""
        return ordered.rank_multi(self.df, col, specs, **kw)

    def p_cumsum(self, cols, order_by=None, axis: int = 0, **kw):
        if axis == 1:
            return ordered.cum_axis1(self.df, cols, "sum")
        return ordered.cumsum(self.df, cols, order_by, **kw)

    def p_cummax(self, cols, order_by=None, axis: int = 0, **kw):
        if axis == 1:
            return ordered.cum_axis1(self.df, cols, "max")
        return ordered.cummax(self.df, cols, order_by, **kw)

    def p_cummin(self, cols, order_by=None, axis: int = 0, **kw):
        if axis == 1:
            return ordered.cum_axis1(self.df, cols, "min")
        return ordered.cummin(self.df, cols, order_by, **kw)

    def p_cumprod(self, cols, order_by=None, axis: int = 0, **kw):
        if axis == 1:
            return ordered.cum_axis1(self.df, cols, "prod")
        return ordered.cumprod(self.df, cols, order_by, **kw)

    def p_pct_change(self, cols, order_by, **kw):
        return ordered.pct_change(self.df, cols, order_by, **kw)

    def p_shift(self, cols, order_by, **kw):
        return ordered.shift(self.df, cols, order_by, **kw)

    def p_diff(self, cols, order_by, **kw):
        return ordered.diff(self.df, cols, order_by, **kw)

    # -- pandas-completeness surface (r6) ---------------------------------
    def p_value_counts(self, col: str, **kw) -> DataFrame:
        return reductions.value_counts(self.df, col, **kw)

    def p_nlargest(self, n: int, columns, **kw) -> DataFrame:
        return reductions.nlargest(self.df, n, columns, **kw)

    def p_nsmallest(self, n: int, columns, **kw) -> DataFrame:
        return reductions.nsmallest(self.df, n, columns, **kw)

    def p_drop_duplicates(self, subset, order_by=None, keep="first") -> "ParallelFrame":
        from .operators import dedup

        return ParallelFrame(dedup.drop_duplicates(self.df, subset, order_by, keep))

    def p_fillna(self, value=None, cols=None, method=None, limit=None,
                 order_by=None, partition_by=None) -> "ParallelFrame":
        return ParallelFrame(elementwise.fillna(
            self.df, value, cols, method, limit, order_by, partition_by
        ))

    def p_dropna(self, cols=None, how="any", thresh=None) -> "ParallelFrame":
        return ParallelFrame(elementwise.dropna(self.df, cols, how, thresh))

    def p_clip(self, cols, lower=None, upper=None) -> "ParallelFrame":
        return ParallelFrame(elementwise.clip(self.df, cols, lower, upper))

    def p_round(self, cols, decimals: int = 0) -> "ParallelFrame":
        return ParallelFrame(elementwise.round_cols(self.df, cols, decimals))

    def p_abs(self, cols) -> "ParallelFrame":
        return ParallelFrame(elementwise.abs_cols(self.df, cols))

    def p_where(self, cols, cond, other=None) -> "ParallelFrame":
        return ParallelFrame(elementwise.where_mask(self.df, cols, cond, other))

    def p_mask(self, cols, cond, other=None) -> "ParallelFrame":
        return ParallelFrame(
            elementwise.where_mask(self.df, cols, cond, other, mask=True)
        )

    def p_interpolate(self, cols, order_by, **kw) -> "ParallelFrame":
        return ParallelFrame(ordered.interpolate(self.df, cols, order_by, **kw))

    def p_corrwith(self, pairs, min_periods=None) -> DataFrame:
        """pandas ``corrwith`` over explicit column pairs — one scan."""
        return self._action(
            lambda: reductions.corr_with(self.df, pairs, min_periods)
        )

    # -- thin frame verbs (pandas ergonomics over native Spark ops) --------
    def p_sort_values(self, by, ascending=True,
                      na_position: str = "last") -> "ParallelFrame":
        """pandas ``sort_values``. NOTE the scale contract: a global sort
        is a range-partitioned total order (Spark's orderBy), fine as a
        final presentation step, a bottleneck as a mid-pipeline one."""
        by = [by] if isinstance(by, str) else list(by)
        asc = [ascending] * len(by) if isinstance(ascending, bool) else list(ascending)
        cols = []
        for c, a in zip(by, asc):
            col = F.col(c)
            if a:
                cols.append(col.asc_nulls_last() if na_position == "last"
                            else col.asc_nulls_first())
            else:
                cols.append(col.desc_nulls_last() if na_position == "last"
                            else col.desc_nulls_first())
        return ParallelFrame(self.df.orderBy(*cols))

    _DTYPES = {
        "int8": "tinyint", "int16": "smallint", "int32": "int",
        "int64": "bigint", "float32": "float", "float64": "double",
        "bool": "boolean", "object": "string", "str": "string",
        "datetime64[ns]": "timestamp", "category": "string",
    }

    def p_astype(self, dtypes) -> "ParallelFrame":
        """pandas ``astype`` with numpy dtype names mapped to Spark types
        (int64 -> bigint, float64 -> double, object -> string, ...)."""
        out = self.df
        for c, dt in dtypes.items():
            spark_t = self._DTYPES.get(str(dt), str(dt))
            out = out.withColumn(c, F.col(c).cast(spark_t))
        return ParallelFrame(out)

    def p_rename(self, columns: dict) -> "ParallelFrame":
        out = self.df
        for old, new in columns.items():
            out = out.withColumnRenamed(old, new)
        return ParallelFrame(out)

    def p_assign(self, **exprs) -> "ParallelFrame":
        """pandas ``assign``: each kwarg is a Column expression or a
        callable receiving the underlying DataFrame."""
        out = self.df
        for name, e in exprs.items():
            out = out.withColumn(name, e(out) if callable(e) else e)
        return ParallelFrame(out)

    def p_between(self, col: str, left, right,
                  inclusive: str = "both") -> "ParallelFrame":
        """pandas ``Series.between`` as a filter."""
        c = F.col(col)
        lo = c >= left if inclusive in ("both", "left") else c > left
        hi = c <= right if inclusive in ("both", "right") else c < right
        return ParallelFrame(self.df.where(lo & hi))

    def p_explode(self, col: str, out_col: str | None = None,
                  keep_empty: bool = False) -> "ParallelFrame":
        """pandas ``explode`` of a list column (narrow Generate node;
        ``keep_empty`` mirrors pandas emitting a NaN row for []/NULL)."""
        fn = F.explode_outer if keep_empty else F.explode
        return ParallelFrame(
            self.df.withColumn(out_col or col, fn(F.col(col)))
        )

    def p_cov(self, cols, min_periods=None, ddof: int = 1) -> DataFrame:
        return self._action(
            lambda: reductions.cov_matrix(self.df, cols, min_periods, ddof)
        )

    # -- reshape / binning (operators/reshape.py) --------------------------
    def p_melt(self, id_vars, value_vars, var_name="variable",
               value_name="value") -> "ParallelFrame":
        from .operators import reshape

        return ParallelFrame(
            reshape.melt(self.df, id_vars, value_vars, var_name, value_name)
        )

    def p_crosstab(self, row_col, col_col, values=None,
                   normalize=False) -> "ParallelFrame":
        from .operators import reshape

        return ParallelFrame(
            reshape.crosstab(self.df, row_col, col_col, values, normalize)
        )

    def p_get_dummies(self, cols, **kw) -> "ParallelFrame":
        from .operators import reshape

        return ParallelFrame(reshape.get_dummies(self.df, cols, **kw))

    def p_cut(self, col, bins, **kw) -> "ParallelFrame":
        from .operators import reshape

        return ParallelFrame(reshape.cut(self.df, col, bins, **kw))

    def p_qcut(self, col, q, **kw) -> "ParallelFrame":
        from .operators import reshape

        return ParallelFrame(reshape.qcut(self.df, col, q, **kw))

    def p_pivot(self, index, columns, values, **kw) -> "ParallelFrame":
        """Non-aggregating pandas ``pivot`` (raises on duplicate cells)."""
        from .operators import reshape

        return ParallelFrame(reshape.pivot_wide(self.df, index, columns, values, **kw))

    def p_duplicated(self, subset, order_by=None, keep="first",
                     out_col="duplicated") -> "ParallelFrame":
        from .operators import dedup

        return ParallelFrame(
            dedup.duplicated(self.df, subset, order_by, keep, out_col)
        )

    def p_idxmax_axis1(self, cols, **kw) -> "ParallelFrame":
        return ParallelFrame(
            elementwise.idx_extreme_axis1(self.df, cols, how="max", **kw)
        )

    def p_idxmin_axis1(self, cols, **kw) -> "ParallelFrame":
        return ParallelFrame(
            elementwise.idx_extreme_axis1(self.df, cols, how="min", **kw)
        )

    def p_merge_ordered(self, right, on, **kw) -> "ParallelFrame":
        r = right.df if isinstance(right, ParallelFrame) else right
        return ParallelFrame(joins.merge_ordered(self.df, r, on, **kw))

    def p_combine_first(self, other, on) -> "ParallelFrame":
        right = other.df if isinstance(other, ParallelFrame) else other
        return ParallelFrame(joins.combine_first(self.df, right, on))

    def p_json_normalize(self, col: str, schema, **kw) -> "ParallelFrame":
        """Flatten a JSON-string column into typed columns (explicit
        schema — see functions/jsonf.py for the 100 TB rationale)."""
        from .functions import jsonf

        return ParallelFrame(jsonf.json_normalize(self.df, col, schema, **kw))

    def p_query(self, expr: str, env: dict | None = None) -> "ParallelFrame":
        """pandas ``query`` string (``&``/``|``/``~``, chained compares,
        ``in``, ``@var``, backticks) compiled to a native SQL predicate —
        pushes down to the scan like any ``.where``."""
        from .functions.queryexpr import to_sql

        return ParallelFrame(self.df.where(to_sql(expr, env)))

    # -- time resampling (operators/resample.py) ---------------------------
    def p_resample(self, time_col, freq, aggs, partition_by=None,
                   asfreq: bool = False, fill_cols=(), **kw) -> "ParallelFrame":
        """pandas ``resample(freq).agg(...)``; ``asfreq=True`` materializes
        the full bin grid (empty bins) and forward-fills ``fill_cols``."""
        from .operators import resample as _rs

        if asfreq:
            out = _rs.resample_asfreq(
                self.df, time_col, freq, aggs, fill_cols, partition_by, **kw
            )
        else:
            out = _rs.resample_agg(self.df, time_col, freq, aggs, partition_by, **kw)
        return ParallelFrame(out)

    # -- §2.6 windows ------------------------------------------------------
    def rolling(
        self, window, order_by, partition_by=None, win_type: str | None = None,
        center: bool = False, closed: str | None = None, **shape
    ) -> "ParallelRolling":
        """``win_type=`` mirrors the reference's weighted Window family
        (ParallelWindow, parallel_window.py:206-213): a scipy shape name
        (gaussian/triang/hamming/hann/blackman/bartlett, shape params like
        ``std=`` as kwargs) materialized to literal weights at plan time.
        ``center``/``closed`` follow the pandas ctor args the reference
        snapshots and replays per chunk (parallel_window.py:91-100)."""
        return ParallelRolling(
            self.df, window, order_by, partition_by, win_type, shape,
            center=center, closed=closed,
        )

    def expanding(self, order_by, partition_by=None) -> "ParallelExpanding":
        return ParallelExpanding(self.df, order_by, partition_by)

    def ewm(self, order_by, partition_by, span=None, alpha=None,
            halflife=None, com=None, min_periods: int = 0,
            ignore_na: bool = False, adjust: bool = True) -> "ParallelEWM":
        return ParallelEWM(self.df, order_by, partition_by, span, alpha,
                           halflife=halflife, com=com, min_periods=min_periods,
                           ignore_na=ignore_na, adjust=adjust)


class ParallelGroupBy:
    """reference GroupBy.p_agg / p_apply / p_transform."""

    def __init__(self, df: DataFrame, keys: list[str]):
        self.df, self.keys = df, keys

    def p_agg(self, spec=None, dropna: bool = True, sort: bool = True, **named) -> DataFrame:
        if named:
            # pandas named-agg kwargs: p_agg(mx=("x", "max"), sy=("y", "sum"))
            spec = grouped.named_agg(self.df, **named)
        return grouped.groupby_agg(self.df, self.keys, spec, dropna=dropna, sort=sort)

    def p_apply(self, func: Callable, schema, dropna: bool = True) -> DataFrame:
        return grouped.groupby_apply(self.df, self.keys, func, schema, dropna=dropna)

    def p_transform(self, cols, func, **kw) -> DataFrame:
        return grouped.groupby_transform(self.df, self.keys, cols, func, **kw)


def _broadcast_agg_spec(spec, df, order_by, partition_by) -> dict:
    """Normalize a window agg spec to {col: [stats]} — pandas
    ``Rolling.agg`` also takes a bare string or a list, applied to every
    NUMERIC value column (the rolled columns; order/partition keys are
    index-like here and excluded, as pandas' index is)."""
    if isinstance(spec, dict):
        return spec
    if isinstance(spec, str):
        stats = [spec]
    elif isinstance(spec, (list, tuple)):
        stats = list(spec)
    else:
        raise TypeError(
            f"agg spec must be str, list, or dict {{col: stat|[stats]}}, got {type(spec)}"
        )
    from pyspark.sql import types as T

    keys = set(order_by or []) | set(partition_by or [])
    value_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in keys and isinstance(f.dataType, T.NumericType)
    ]
    if not value_cols:
        raise ValueError("agg spec over all columns found no numeric value columns")
    return {c: stats for c in value_cols}


class ParallelRolling:
    """reference Rolling.p_* family (+ the weighted Window family when
    ``win_type`` is set — reference main.py:202-251 binds both)."""

    def __init__(self, df, window, order_by, partition_by, win_type=None, shape=None,
                 center: bool = False, closed: str | None = None):
        self.df, self.window = df, window
        self.order_by, self.partition_by = order_by, partition_by
        self.win_type, self.shape = win_type, shape or {}
        self.center, self.closed = center, closed

    def _agg(self, cols, funcs, min_periods=None):
        if self.win_type:
            # pandas: only mean/sum/var/std are defined for weighted
            # windows; silently returning UNWEIGHTED results here was the
            # r4 bug this guard closes
            raise NotImplementedError(
                f"rolling(win_type={self.win_type!r}).{funcs[0]} is not a "
                "weighted aggregation (pandas supports mean/sum/var/std)"
            )
        return windows.rolling(
            self.df, cols, self.window, self.order_by, funcs,
            self.partition_by, min_periods,
            center=self.center, closed=self.closed,
        )

    def _weighted(self, cols, func, **kw):
        if self.center or self.closed:
            # the weighted kernel's dot-product frame is trailing-only;
            # silently recentring would be the r4 unweighted-agg bug again
            raise NotImplementedError(
                "rolling(win_type=) does not support center=/closed="
            )
        if kw:
            # pandas threads min_periods through the window constructor;
            # the weighted kernel here evaluates full frames only —
            # reject rather than silently drop
            raise NotImplementedError(
                f"weighted rolling ({func}) does not accept {sorted(kw)}; "
                "full windows only (rows before the window fills are NULL)"
            )
        w = windows.win_type_weights(self.win_type, self.window, **self.shape)
        out = self.df
        for c in [cols] if isinstance(cols, str) else cols:
            out = windows.weighted_window(
                out, c, self.window, w, self.order_by,
                self.partition_by or [], func=func,
            )
        return out

    def p_mean(self, cols, **kw):
        if self.win_type:
            return self._weighted(cols, "mean", **kw)
        return self._agg(cols, ("mean",), **kw)

    def p_sum(self, cols, **kw):
        if self.win_type:
            return self._weighted(cols, "sum", **kw)
        return self._agg(cols, ("sum",), **kw)

    def p_min(self, cols, **kw):
        return self._agg(cols, ("min",), **kw)

    def p_max(self, cols, **kw):
        return self._agg(cols, ("max",), **kw)

    def p_std(self, cols, **kw):
        if self.win_type:
            return self._weighted(cols, "std", **kw)
        return self._agg(cols, ("std",), **kw)

    def p_var(self, cols, **kw):
        if self.win_type:
            return self._weighted(cols, "var", **kw)
        return self._agg(cols, ("var",), **kw)

    def p_median(self, cols, **kw):
        return self._agg(cols, ("median",), **kw)

    def _no_shape_kw(self, op: str) -> None:
        if self.center or self.closed:
            raise NotImplementedError(
                f"rolling(center=/closed=).{op} is not supported yet; the "
                "standard aggregations (mean/sum/min/max/std/var/median/"
                "count/skew/kurt/sem) plus quantile and rank honor "
                "center/closed"
            )

    def p_quantile(self, col, q, **kw):
        if self.win_type:
            raise NotImplementedError(
                "rolling(win_type=).quantile is not a weighted aggregation"
            )
        return windows.rolling_quantile(
            self.df, col, self.window, q, self.order_by, self.partition_by,
            center=self.center, closed=self.closed, **kw
        )

    def p_rank(self, col, **kw):
        if self.win_type:
            raise NotImplementedError(
                "rolling(win_type=).rank is not a weighted aggregation"
            )
        return windows.rolling_rank(
            self.df, col, self.window, self.order_by, self.partition_by,
            center=self.center, closed=self.closed, **kw
        )

    def p_apply(self, col, func, **kw):
        if self.win_type:
            raise NotImplementedError(
                "rolling(win_type=).apply is not a weighted aggregation"
            )
        if not self.partition_by:
            raise ValueError("rolling.p_apply requires partition_by (per-group Arrow)")
        self._no_shape_kw("apply")
        return windows.rolling_apply(
            self.df, col, self.window, func, self.order_by, self.partition_by, **kw
        )

    def p_cov(self, col_a, col_b, **kw):
        if self.win_type:
            raise NotImplementedError(
                "rolling(win_type=).cov/corr is not a weighted aggregation"
            )
        self._no_shape_kw("cov/corr")
        return windows.rolling_cov_corr(
            self.df, col_a, col_b, self.window, self.order_by, self.partition_by, **kw
        )

    p_corr = p_cov  # one pass emits both _roll_cov and _roll_corr columns

    def p_agg(self, spec, **kw):
        """pandas ``Rolling.agg`` / ``aggregate`` spec (reference op set
        main.py:44-46 includes aggregate/agg): str, list[str], or
        {col: str | list[str]}. All stats for one column share the SAME
        window pipeline (one Exchange + Sort), so a 5-stat agg costs one
        sort, not five."""
        if self.win_type:
            raise NotImplementedError("rolling(win_type=).agg is not supported")
        spec = _broadcast_agg_spec(spec, self.df, self.order_by, self.partition_by)
        out = self.df
        for c, stats in spec.items():
            stats = [stats] if isinstance(stats, str) else list(stats)
            out = windows.rolling(
                out, [c], self.window, self.order_by, tuple(stats),
                self.partition_by, kw.get("min_periods"),
                center=self.center, closed=self.closed,
            )
        return out

    p_aggregate = p_agg


class ParallelExpanding:
    def __init__(self, df, order_by, partition_by):
        self.df, self.order_by, self.partition_by = df, order_by, partition_by

    def _agg(self, cols, funcs, min_periods=1):
        return windows.expanding(
            self.df, cols, self.order_by, funcs, self.partition_by, min_periods
        )

    def p_sum(self, cols, **kw):
        return self._agg(cols, ("sum",), **kw)

    def p_mean(self, cols, **kw):
        return self._agg(cols, ("mean",), **kw)

    def p_min(self, cols, **kw):
        return self._agg(cols, ("min",), **kw)

    def p_max(self, cols, **kw):
        return self._agg(cols, ("max",), **kw)

    def p_std(self, cols, **kw):
        return self._agg(cols, ("std",), **kw)

    def p_var(self, cols, **kw):
        return self._agg(cols, ("var",), **kw)

    def p_median(self, cols, **kw):
        return self._agg(cols, ("median",), **kw)

    def p_count(self, cols, **kw):
        return self._agg(cols, ("count",), **kw)

    def p_skew(self, cols, **kw):
        return self._agg(cols, ("skew",), **kw)

    def p_kurt(self, cols, **kw):
        return self._agg(cols, ("kurt",), **kw)

    def p_sem(self, cols, **kw):
        return self._agg(cols, ("sem",), **kw)

    def p_quantile(self, col, q, **kw):
        return windows.expanding_quantile(
            self.df, col, q, self.order_by, self.partition_by, **kw
        )

    def p_rank(self, col, **kw):
        return windows.expanding_rank(
            self.df, col, self.order_by, self.partition_by, **kw
        )

    def p_apply(self, col, func, **kw):
        if not self.partition_by:
            raise ValueError("expanding.p_apply requires partition_by (per-group Arrow)")
        return windows.expanding_apply(
            self.df, col, func, self.order_by, self.partition_by, **kw
        )

    def p_agg(self, spec, **kw):
        """Expanding.agg spec — same contract as Rolling.p_agg."""
        spec = _broadcast_agg_spec(spec, self.df, self.order_by, self.partition_by)
        out = self.df
        for c, stats in spec.items():
            stats = [stats] if isinstance(stats, str) else list(stats)
            out = windows.expanding(
                out, [c], self.order_by, tuple(stats), self.partition_by,
                kw.get("min_periods", 1),
            )
        return out

    p_aggregate = p_agg


class ParallelEWM:
    def __init__(self, df, order_by, partition_by, span, alpha,
                 halflife=None, com=None, min_periods: int = 0,
                 ignore_na: bool = False, adjust: bool = True):
        self.df = df
        self.order_by, self.partition_by = order_by, partition_by
        self.span, self.alpha = span, alpha
        self.halflife, self.com = halflife, com
        self.min_periods, self.ignore_na, self.adjust = min_periods, ignore_na, adjust

    def _agg(self, cols, funcs):
        return windows.ewm(
            self.df, cols, self.order_by, self.partition_by, funcs,
            span=self.span, alpha=self.alpha, halflife=self.halflife,
            com=self.com, min_periods=self.min_periods,
            ignore_na=self.ignore_na, adjust=self.adjust,
        )

    def p_mean(self, cols):
        return self._agg(cols, ("mean",))

    def p_std(self, cols):
        return self._agg(cols, ("std",))

    def p_var(self, cols):
        return self._agg(cols, ("var",))

    def p_sum(self, cols):
        return self._agg(cols, ("sum",))


class ParallelAccessor:
    """Bare-name dispatch onto the ``p_*`` surface — the reference's
    ``df.parallel`` accessor (core/accessor.py; tests/test_accessor.py):
    ``pf.parallel.mean()`` == ``pf.p_mean()``, ``pf.parallel.apply(f,
    axis=1)`` == ``pf.p_apply(f, axis=1)``; unknown names raise
    AttributeError naming the method, and ``dir()`` lists the surface."""

    def __init__(self, frame: "ParallelFrame"):
        self._frame = frame

    def __getattr__(self, name: str):
        target = "chunk_apply" if name == "chunk_apply" else f"p_{name}"
        fn = getattr(self._frame, target, None)
        if fn is None or not callable(fn):
            raise AttributeError(f"no method '{name}' on the parallel accessor")
        return fn

    def __dir__(self):
        base = [n[2:] for n in dir(self._frame) if n.startswith("p_")]
        return sorted(set(base + ["chunk_apply"]))


def _parallel(self: ParallelFrame) -> ParallelAccessor:
    return ParallelAccessor(self)


ParallelFrame.parallel = property(_parallel)
