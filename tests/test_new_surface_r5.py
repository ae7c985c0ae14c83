"""Round-5 surface: single-pass pair-long corr matrices (callable + keyed
kendall kernel), empty-pair NULL seeding, and the plan-shape guarantee that
the matrix reads its input ONCE regardless of pair count."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as em
from parallel_pandas_spark.operators import reductions
from parallel_pandas_spark.plans import explain
from tests.test_new_surface_r4 import _brute_tau_b

SF = "/root/testdata/sf0.001"


def from_pandas(spark, pdf):
    return spark.createDataFrame(pdf)


def test_corr_matrix_callable_single_input_scan(spark):
    """The pair-long frame is ONE explode over a literal struct array, so
    the physical plan scans the parquet exactly once no matter how many
    pairs the matrix has (the former per-pair union scanned it C(k,2)x)."""
    li = em.load_table(spark, SF, "lineitem")
    df = reductions.corr_matrix(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        method=lambda x, y: float(np.corrcoef(x, y)[0, 1]),
    )
    txt = explain.explain_str(df)
    # formatted explain prints each scan node twice (tree + detail section);
    # count the numbered detail headers, one per physical scan node
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", txt)) == 1, txt


def test_corr_matrix_callable_raises_no_type_hint_warning(spark):
    """The per-pair applyInPandas function carries no partial type hints,
    so PySpark does not warn that it cannot infer the eval type."""
    import warnings

    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0], "b": [2.0, 1.0, 4.0]})
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = reductions.corr_matrix(
            from_pandas(spark, pdf), ["a", "b"],
            method=lambda x, y: float(np.corrcoef(x, y)[0, 1]),
        ).collect()
    assert len(rows) == 1
    assert not [w for w in caught if "eval type" in str(w.message)], [
        str(w.message) for w in caught]


def test_corr_matrix_callable_empty_pair_yields_null_row(spark):
    """A pair with zero pairwise-complete rows must still produce a row
    with NULL corr (pandas: NaN) — r4 dropped the row entirely."""
    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, 3.0, 4.0],
            "b": [np.nan] * 4,
            "c": [2.0, 1.0, 4.0, 3.0],
        }
    )
    rows = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in reductions.corr_matrix(
            from_pandas(spark, pdf),
            ["a", "b", "c"],
            method=lambda x, y: float(np.corrcoef(x, y)[0, 1]),
        ).collect()
    }
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert rows[("a", "b")] is None  # NULL, not a missing row
    assert rows[("b", "c")] is None
    assert rows[("a", "c")] == pytest.approx(
        float(np.corrcoef(pdf["a"], pdf["c"])[0, 1]), abs=1e-12
    )


def test_corr_matrix_kendall_multi_kernel_matches_brute(spark):
    """All pairs through ONE keyed kernel invocation — values must equal
    the O(n^2) reference per pair, including heavy-tie columns whose rows
    span many range partitions."""
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "a": rng.integers(0, 8, 300).astype(float),  # heavy ties
            "b": rng.normal(size=300),
            "c": rng.integers(0, 3, 300).astype(float),  # heavier ties
            "d": np.arange(300, dtype=float),
        }
    )
    got = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in reductions.corr_matrix(
            from_pandas(spark, pdf), ["a", "b", "c", "d"], method="kendall"
        ).collect()
    }
    assert len(got) == 6
    for (x, y), v in got.items():
        ref = _brute_tau_b(pdf[x].to_numpy(), pdf[y].to_numpy())
        assert v == pytest.approx(ref, abs=1e-12), (x, y)


def test_corr_matrix_kendall_min_periods_and_empty_pair(spark):
    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, 3.0, 4.0, 5.0],
            "b": [np.nan] * 5,
            "c": [5.0, 3.0, 4.0, 1.0, 2.0],
        }
    )
    got = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in reductions.corr_matrix(
            from_pandas(spark, pdf), ["a", "b", "c"], method="kendall", min_periods=3
        ).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert got[("a", "b")] is None
    assert got[("b", "c")] is None
    assert got[("a", "c")] == pytest.approx(
        _brute_tau_b(pdf["a"].to_numpy(), pdf["c"].to_numpy()), abs=1e-12
    )
    # min_periods above the complete-row count nulls the surviving pair too
    gated = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in reductions.corr_matrix(
            from_pandas(spark, pdf), ["a", "c"], method="kendall", min_periods=6
        ).collect()
    }
    assert gated[("a", "c")] is None


# --- rank na_option + p_replace regex/limit/method parity ------------------


def test_rank_na_option_matches_pandas(spark):
    from parallel_pandas_spark.operators import ordered

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "id": range(60),
            "g": rng.integers(0, 3, 60),
            "v": rng.integers(0, 10, 60).astype(float),
        }
    )
    pdf.loc[rng.choice(60, 12, replace=False), "v"] = np.nan
    df = from_pandas(spark, pdf)
    for na_option in ("keep", "top", "bottom"):
        for method, pct in (("min", False), ("average", True), ("dense", False)):
            ref = pdf.groupby("g")["v"].rank(
                method=method, na_option=na_option, pct=pct
            )
            got = {
                r["id"]: r["r"]
                for r in ordered.rank(
                    df, "v", method=method, na_option=na_option, pct=pct,
                    partition_by=["g"], out_col="r", tie_break=["id"],
                ).collect()
            }
            for i in pdf["id"]:
                rv = ref.iloc[i]
                if math.isnan(rv):
                    assert got[i] is None, (na_option, method, i)
                else:
                    assert got[i] == pytest.approx(rv, abs=1e-12), (
                        na_option, method, pct, i,
                    )


def test_rank_na_option_descending(spark):
    from parallel_pandas_spark.operators import ordered

    pdf = pd.DataFrame({"id": range(6), "v": [3.0, np.nan, 1.0, 2.0, np.nan, 1.0]})
    df = from_pandas(spark, pdf)
    for na_option in ("top", "bottom"):
        ref = pdf["v"].rank(method="min", ascending=False, na_option=na_option)
        got = {
            r["id"]: r["r"]
            for r in ordered.rank(
                df, "v", method="min", ascending=False, na_option=na_option,
                partition_by=[], out_col="r", tie_break=["id"],
            ).collect()
        }
        for i in pdf["id"]:
            assert got[i] == pytest.approx(ref.iloc[i], abs=1e-12), (na_option, i)


def test_replace_regex_matches_pandas(spark):
    from parallel_pandas_spark.operators import reductions as red

    pdf = pd.DataFrame(
        {"s": ["foo bar", "bazfoo", "nothing", "foofoo"], "t": ["a1", "b22", "c", "d3"]}
    )
    got = (
        red.replace_values(
            from_pandas(spark, pdf), {"foo": "X", "[0-9]+": "#"}, regex=True
        )
        .orderBy("t")
        .collect()
    )
    ref = pdf.replace({"foo": "X", "[0-9]+": "#"}, regex=True).sort_values("t")
    assert [r["s"] for r in got] == list(ref["s"])
    assert [r["t"] for r in got] == list(ref["t"])


def test_replace_fill_method_limit_matches_pandas(spark):
    """Differential against pandas' own Series.replace(method=, limit=)
    (the real reference, not a mask+ffill approximation): pre-existing
    NULLs are neither filled nor skipped (they can donate), fills cascade
    through a masked run, and a masked row beyond limit / without a donor
    KEEPS its original value."""
    import warnings

    from parallel_pandas_spark.operators import reductions as red

    vals = ["X", "a", "X", "X", "b", None, "X", "X", "X", "c", "X"]
    pdf = pd.DataFrame({"id": range(len(vals)), "v": vals})
    df = from_pandas(spark, pdf)
    for method, limit in (
        ("ffill", None), ("ffill", 1), ("ffill", 2),
        ("bfill", None), ("bfill", 2),
    ):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            ref = pdf["v"].replace(["X"], method=method, limit=limit)
        got = {
            r["id"]: r["v"]
            for r in red.replace_fill(
                df, "v", ["X"], method=method, order_by=["id"], limit=limit
            ).collect()
        }
        for i in pdf["id"]:
            rv = ref.iloc[i]
            rv = None if (rv is None or (isinstance(rv, float) and math.isnan(rv))) else rv
            assert got[i] == rv, (method, limit, i, got[i], rv)


def test_replace_regex_repl_translation(spark):
    """re.sub replacement semantics: literal $ passes through, \\1 and
    \\g<1> are group references (verified against pandas)."""
    from parallel_pandas_spark.operators import reductions as red

    pdf = pd.DataFrame({"s": ["price 12", "price 7x"]})
    for mapping in ({"price": "cost: $1"}, {r"(\d+)": r"[\1]"}, {r"(\d+)": r"[\g<1>]"}):
        ref = list(pdf.replace(mapping, regex=True)["s"])
        got = [
            r["s"]
            for r in red.replace_values(from_pandas(spark, pdf), mapping, regex=True)
            .orderBy("s")
            .collect()
        ]
        assert sorted(got) == sorted(ref), mapping


def test_rank_dense_pct_divides_by_distinct(spark):
    from parallel_pandas_spark.operators import ordered

    pdf = pd.DataFrame({"id": range(4), "v": [1.0, 1.0, 2.0, 3.0]})
    got = {
        r["id"]: r["r"]
        for r in ordered.rank(
            from_pandas(spark, pdf), "v", method="dense", pct=True,
            partition_by=[], out_col="r",
        ).collect()
    }
    ref = pdf["v"].rank(method="dense", pct=True)
    for i in pdf["id"]:
        assert got[i] == pytest.approx(ref.iloc[i], abs=1e-12), i
    # na_option='top' variant: distinct count includes the NULL group
    pdf2 = pd.DataFrame({"id": range(4), "v": [3.0, np.nan, 1.0, 1.0]})
    got2 = {
        r["id"]: r["r"]
        for r in ordered.rank(
            from_pandas(spark, pdf2), "v", method="dense", pct=True,
            na_option="top", partition_by=[], out_col="r",
        ).collect()
    }
    ref2 = pdf2["v"].rank(method="dense", pct=True, na_option="top")
    for i in pdf2["id"]:
        assert got2[i] == pytest.approx(ref2.iloc[i], abs=1e-12), i


def test_chunk_apply_list_keeps_empty_chunks(spark):
    from parallel_pandas_spark.operators import elementwise

    pdf = pd.DataFrame({"k": list(range(30))})
    df = from_pandas(spark, pdf).repartition(3)

    def f(chunk: pd.DataFrame) -> pd.DataFrame:
        # empty result for some chunks — the list entry must still exist
        sub = chunk[chunk["k"] < 5]
        return pd.DataFrame({"n": [len(sub)]} if len(sub) else {"n": []})

    chunks = elementwise.map_batches(df, f, "n long", concat_result=False)
    assert len(chunks) == 3  # one entry per chunk, empties included
    assert sum(len(c) for c in chunks) >= 1


def test_map_series_maptype_values_fall_back(spark):
    from parallel_pandas_spark.operators import elementwise

    df = from_pandas(spark, pd.DataFrame({"k": ["a", "b"]}))
    lk = spark.createDataFrame(
        [("a", {"x": "1"}), ("b", {"y": "2"})], "key string, val map<string,string>"
    )
    got = {
        r["k"]: r["m"]
        for r in elementwise.map_series(df, "k", lk, "key", "val", out_col="m").collect()
    }
    assert got["a"] == {"x": "1"} and got["b"] == {"y": "2"}


# --- ADVICE fixes: win_type guards, weighted var/std, map_series, sampling --


def test_weighted_rolling_var_std_match_manual(spark):
    from parallel_pandas_spark.operators import windows

    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {"g": [0] * 20, "i": range(20), "v": rng.normal(size=20)}
    )
    wts = windows.win_type_weights("gaussian", 5, std=1.5)
    df = from_pandas(spark, pdf)
    got_var = {
        r["i"]: r["v_wvar"]
        for r in windows.weighted_window(
            df, "v", 5, wts, ["i"], ["g"], func="var"
        ).collect()
    }
    got_std = {
        r["i"]: r["v_wstd"]
        for r in windows.weighted_window(
            df, "v", 5, wts, ["i"], ["g"], func="std"
        ).collect()
    }
    w = np.array(wts)
    sw, sw2 = w.sum(), (w * w).sum()
    for i in range(20):
        if i < 4:
            assert got_var[i] is None and got_std[i] is None
            continue
        x = pdf["v"].to_numpy()[i - 4 : i + 1]
        # pandas roll_weighted_var (ddof=1) closed form
        ref = ((w * x * x).sum() - (w * x).sum() ** 2 / sw) * sw / (sw * sw - sw2)
        assert got_var[i] == pytest.approx(ref, rel=1e-12), i
        assert got_std[i] == pytest.approx(math.sqrt(ref), rel=1e-12), i


def test_win_type_unsupported_aggs_raise(spark):
    from parallel_pandas_spark.api import ParallelFrame

    pdf = pd.DataFrame({"g": [0] * 6, "i": range(6), "v": [1.0] * 6})
    pf = ParallelFrame(from_pandas(spark, pdf))
    roll = pf.rolling(3, order_by=["i"], partition_by=["g"], win_type="hann")
    for bad in ("p_min", "p_max", "p_median"):
        with pytest.raises(NotImplementedError):
            getattr(roll, bad)("v")
    with pytest.raises(NotImplementedError):
        roll.p_quantile("v", 0.5)
    with pytest.raises(NotImplementedError):
        roll.p_cov("v", "v")
    with pytest.raises(NotImplementedError):  # min_periods silently dropped in r4
        roll.p_mean("v", min_periods=1)
    # weighted var/std now compute (no raise), unweighted paths untouched
    roll.p_var("v")
    pf.rolling(3, order_by=["i"], partition_by=["g"]).p_min("v")


def test_map_series_out_col_collision_and_strict(spark):
    from parallel_pandas_spark.operators import elementwise

    df = from_pandas(spark, pd.DataFrame({"k": ["a", "b", "c"], "x": [1, 2, 3]}))
    lk = from_pandas(
        spark, pd.DataFrame({"key": ["a", "b", "b"], "val": [10, 20, 30]})
    )
    with pytest.raises(ValueError, match="already exists"):
        elementwise.map_series(df, "k", lk, "key", "val", out_col="x")
    # default: deterministic smallest-value survivor for duplicate keys
    got = {
        r["k"]: r["m"]
        for r in elementwise.map_series(df, "k", lk, "key", "val", out_col="m").collect()
    }
    assert got == {"a": 10, "b": 20, "c": None}
    # strict: duplicate lookup keys fail the job like pandas
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception):
        elementwise.map_series(
            df, "k", lk, "key", "val", out_col="m", strict=True
        ).collect()
    # strict passes when keys are unique
    uniq = from_pandas(spark, pd.DataFrame({"key": ["a", "b"], "val": [10, 20]}))
    got2 = {
        r["k"]: r["m"]
        for r in elementwise.map_series(
            df, "k", uniq, "key", "val", out_col="m", strict=True
        ).collect()
    }
    assert got2 == {"a": 10, "b": 20, "c": None}


def test_kendall_sample_gate_null_keys_deterministic(spark):
    """NULL id_cols must hash via an explicit sentinel (concat_ws would
    silently skip them, diverging from any SQL '||' replay)."""
    import hashlib

    from parallel_pandas_spark.operators import reductions as red

    ids = [None if i % 10 in (0, 3) else f"k{i}" for i in range(100)]
    pdf = pd.DataFrame(
        {
            "id": ids,
            "x": np.arange(100, dtype=float) % 7,
            "y": np.arange(100, dtype=float) % 5,
        }
    )
    df = from_pandas(spark, pdf)
    row = red.kendall_tau(df, "x", "y", sample_mod=3, id_cols=["id"]).first()

    def gate(v):
        s = "\x00null" if v is None else v
        h = hashlib.md5(f"s0:{s}".encode()).hexdigest()[:15]
        return int(h, 16) % 3 == 0

    expect_n = sum(gate(v) for v in ids)
    assert row["n"] == expect_n


def test_chunk_apply_concat_result_false(spark):
    """Reference chunk_apply(concat_result=False) returns the list of
    per-chunk results without concatenation (parallel_dataframe.py:92-95)."""
    from parallel_pandas_spark.operators import elementwise

    pdf = pd.DataFrame({"k": list(range(30)), "v": [float(i) for i in range(30)]})
    df = from_pandas(spark, pdf).repartition(3)

    def f(chunk: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"n": [len(chunk)], "vsum": [float(chunk["v"].sum())]})

    chunks = elementwise.map_batches(df, f, "n long, vsum double", concat_result=False)
    assert isinstance(chunks, list)
    assert all(isinstance(c, pd.DataFrame) for c in chunks)
    assert 1 <= len(chunks) <= 3  # one result per non-empty partition batch
    assert sum(int(c["n"].iloc[0]) for c in chunks) == 30
    assert sum(c["vsum"].iloc[0] for c in chunks) == pytest.approx(pdf["v"].sum())
    # concat form unchanged
    cat = elementwise.map_batches(df, f, "n long, vsum double").toPandas()
    assert int(cat["n"].sum()) == 30


def test_cluster_pairs_connected_components(spark):
    """Min-label propagation must find exact components on topologies that
    need multiple rounds (chains), with deterministic min-id labels."""
    from parallel_pandas_spark.operators import dedup

    edges = [
        # chain 1-2-3-4-5 (diameter 4: exercises the iteration loop)
        (1, 2), (2, 3), (3, 4), (4, 5),
        # clique {10,11,12}
        (10, 11), (10, 12), (11, 12),
        # pair {20, 21}
        (21, 20),
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup.cluster_pairs(pairs).collect()
    }
    assert {k: v[0] for k, v in got.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }
    assert got[3][1] == 5 and got[11][1] == 3 and got[20][1] == 2
    assert [k for k, v in got.items() if v[2]] == [1, 10, 20] or sorted(
        k for k, v in got.items() if v[2]
    ) == [1, 10, 20]


def test_replace_fill_randomized_vs_pandas(spark):
    """Randomized differential: masks, NULLs, limits, both directions —
    every case must equal pandas' Series.replace(method=, limit=)."""
    import warnings

    from parallel_pandas_spark.operators import reductions as red

    rng = np.random.default_rng(13)
    for case in range(8):
        n = int(rng.integers(5, 25))
        pool = ["X", "Y", "a", "b", "c", None]
        vals = [pool[i] for i in rng.integers(0, len(pool), n)]
        pdf = pd.DataFrame({"id": range(n), "v": vals})
        method = ("ffill", "bfill")[case % 2]
        limit = (None, 1, 2)[case % 3]
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            ref = pdf["v"].replace(["X", "Y"], method=method, limit=limit)
        got = {
            r["id"]: r["v"]
            for r in red.replace_fill(
                from_pandas(spark, pdf), "v", ["X", "Y"],
                method=method, order_by=["id"], limit=limit,
            ).collect()
        }
        for i in range(n):
            rv = ref.iloc[i]
            rv = None if (rv is None or (isinstance(rv, float) and math.isnan(rv))) else rv
            assert got[i] == rv, (case, method, limit, i, vals)


def test_rolling_full_family_randomized_vs_pandas(spark):
    """Randomized one-frame differential of the whole count-window rolling
    family (incl. skew/sem/rank, the shapes pandas computes per chunk in
    the reference) against pandas rolling itself."""
    from parallel_pandas_spark.operators import windows

    rng = np.random.default_rng(21)
    n, win = 80, 6
    pdf = pd.DataFrame(
        {
            "g": rng.integers(0, 3, n),
            "i": range(n),
            "v": rng.integers(0, 12, n).astype(float),  # ties for rank
        }
    )
    df = from_pandas(spark, pdf)
    r = windows.rolling(
        df, ["v"], win, ["i"], funcs=("mean", "sum", "min", "max", "std", "var", "skew", "sem"),
        partition_by=["g"],
    )
    r = windows.rolling_rank(r, "v", win, ["i"], partition_by=["g"], out_col="v_rr")
    r = windows.rolling_quantile(r, "v", win, 0.5, ["i"], partition_by=["g"], out_col="v_med")
    got = {row["i"]: row.asDict() for row in r.collect()}

    for g, grp in pdf.groupby("g"):
        grp = grp.sort_values("i")
        roll = grp["v"].rolling(win)
        refs = {
            "v_roll_mean": roll.mean(), "v_roll_sum": roll.sum(),
            "v_roll_min": roll.min(), "v_roll_max": roll.max(),
            "v_roll_std": roll.std(), "v_roll_var": roll.var(),
            "v_roll_skew": roll.skew(),
            "v_roll_sem": roll.sem(),
            "v_rr": roll.rank(method="average", pct=False),
            "v_med": roll.median(),
        }
        for pos, i in enumerate(grp["i"]):
            for colname, series in refs.items():
                rv = series.iloc[pos]
                gv = got[i][colname]
                if isinstance(rv, float) and math.isnan(rv):
                    assert gv is None or math.isnan(gv), (g, i, colname)
                else:
                    assert gv == pytest.approx(rv, abs=1e-9), (g, i, colname, gv, rv)


def test_cum_expanding_pct_shift_with_nulls_vs_pandas(spark):
    """Randomized NULL-bearing differential for cumulatives, expanding,
    pct_change and shift against pandas (fill_method=None semantics)."""
    from parallel_pandas_spark.operators import ordered, windows

    rng = np.random.default_rng(31)
    n = 60
    v = rng.normal(size=n).round(3)
    v[rng.choice(n, 12, replace=False)] = np.nan
    pdf = pd.DataFrame({"g": rng.integers(0, 2, n), "i": range(n), "v": v})
    df = from_pandas(spark, pdf)

    r = ordered.cumsum(df, ["v"], ["i"], partition_by=["g"])
    r = ordered.cummax(r, ["v"], ["i"], partition_by=["g"])
    r = ordered.cumprod(r, ["v"], ["i"], partition_by=["g"])
    r = ordered.pct_change(r, ["v"], ["i"], partition_by=["g"])
    r = ordered.shift(r, ["v"], ["i"], partition_by=["g"])
    r = windows.expanding(r, ["v"], ["i"], funcs=("mean", "std", "sem"),
                          partition_by=["g"], min_periods=2)
    got = {row["i"]: row.asDict() for row in r.collect()}

    for g, grp in pdf.groupby("g"):
        grp = grp.sort_values("i")
        s = grp["v"]
        exp = s.expanding(min_periods=2)
        refs = {
            "v_cumsum": s.cumsum(), "v_cummax": s.cummax(), "v_cumprod": s.cumprod(),
            "v_pct_change": s.pct_change(fill_method=None), "v_shift": s.shift(),
            "v_exp_mean": exp.mean(), "v_exp_std": exp.std(), "v_exp_sem": exp.sem(),
        }
        for pos, i in enumerate(grp["i"]):
            for colname, series in refs.items():
                rv = series.iloc[pos]
                gv = got[i][colname]
                if rv is None or (isinstance(rv, float) and (math.isnan(rv) or math.isinf(rv))):
                    assert gv is None or math.isnan(gv) or math.isinf(gv), (g, i, colname, gv, rv)
                else:
                    assert gv == pytest.approx(rv, abs=1e-9), (g, i, colname, gv, rv)


def test_asof_join_randomized_vs_pandas_merge_asof(spark):
    """Randomized differential vs pandas.merge_asof: NULL fields in the
    matched right row must come through as NULL (no per-column backfill
    tearing), ties match, tolerance nulls far matches — both directions."""
    rng = np.random.default_rng(17)
    nl, nr = 40, 30
    lpdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, nl),
            "t": np.sort(rng.uniform(0, 100, nl).round(1)),
            "x": np.arange(nl),
        }
    )
    rvals = rng.uniform(0, 100, nr).round(2)
    rvals[rng.choice(nr, 8, replace=False)] = np.nan
    rpdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, nr),
            "t": np.sort(rng.uniform(0, 100, nr).round(1)),
            "a": rvals,
            "b": np.arange(nr, dtype=float),
        }
    )
    # drop duplicate (k, t) on the right: which duplicate wins is input-
    # order-defined in pandas and undefined distributed (SURVEY §1.4)
    rpdf = rpdf.drop_duplicates(["k", "t"], keep="last")
    from parallel_pandas_spark.operators import joins

    for direction, tol in (("backward", None), ("forward", None), ("backward", 10.0)):
        ref = pd.merge_asof(
            lpdf.sort_values("t"), rpdf.sort_values("t"), on="t", by="k",
            direction=direction, tolerance=tol,
        ).sort_values("x")
        got = {
            r["x"]: (r["a"], r["b"])
            for r in joins.asof_join(
                spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
                "t", "t", ["k"], ["k"], ["a", "b"],
                direction=direction, tolerance_seconds=tol,
            ).collect()
        }
        for _, row in ref.iterrows():
            ga, gb = got[row["x"]]
            for g, rv in ((ga, row["a"]), (gb, row["b"])):
                if isinstance(rv, float) and math.isnan(rv):
                    assert g is None or (isinstance(g, float) and math.isnan(g)), (
                        direction, tol, row["x"], g, rv,
                    )
                else:
                    assert g == pytest.approx(rv, abs=1e-12), (direction, tol, row["x"])


def test_merge_nan_keys_match_like_pandas(spark):
    """pandas merges match NaN keys to each other; a plain SQL '=' would
    drop (inner) or split (outer) those rows."""
    from parallel_pandas_spark.operators import joins

    lpdf = pd.DataFrame({"k": [1.0, np.nan, 2.0], "x": [1, 2, 3]})
    rpdf = pd.DataFrame({"k": [np.nan, 2.0], "y": [10, 20]})
    l, r = from_pandas(spark, lpdf), from_pandas(spark, rpdf)
    # NaN arrives in Spark as double NaN (not NULL) via createDataFrame;
    # normalize to NULL to model a nullable key column
    l = l.withColumn("k", F_nanvl_null("k"))
    r = r.withColumn("k", F_nanvl_null("k"))

    inner = joins.merge(l, r, how="inner", on=["k"]).collect()
    ref_inner = pd.merge(lpdf, rpdf, on="k", how="inner")
    assert len(inner) == len(ref_inner) == 2
    got_pairs = sorted((row["x"], row["y"]) for row in inner)
    want_pairs = sorted(zip(ref_inner["x"], ref_inner["y"]))
    assert got_pairs == want_pairs

    outer = joins.merge(l, r, how="outer", on=["k"], indicator=True).collect()
    ref_outer = pd.merge(lpdf, rpdf, on="k", how="outer", indicator=True)
    assert len(outer) == len(ref_outer) == 3
    assert sorted(row["_merge"] for row in outer) == sorted(ref_outer["_merge"])


from pyspark.sql import functions as _F


def F_nanvl_null(c):
    return _F.when(~_F.isnan(_F.col(c)), _F.col(c))


def test_degenerate_denominators_yield_null_not_crash(spark):
    """Spark 4 ANSI mode would make these runtime DIVIDE_BY_ZERO errors;
    the engine encodes pandas' NaN as NULL instead (session contract)."""
    from parallel_pandas_spark.operators import ordered, reductions as red

    pdf = pd.DataFrame({"a": [2.0, 2.0, 2.0], "b": [0.0, 1.0, 2.0], "i": [0, 1, 2]})
    df = from_pandas(spark, pdf)
    z = red.zscore_normalize(df, ["a", "b"]).collect()
    assert all(r["a"] is None or math.isnan(r["a"]) for r in z)  # std=0 -> NaN in pandas
    assert any(r["b"] is not None for r in z)
    pc = ordered.pct_change(df, ["b"], ["i"]).collect()
    by_i = {r["i"]: r["b_pct_change"] for r in pc}
    # pandas: 1.0/0.0 - 1 = inf; engine contract encodes the degenerate as NULL
    assert by_i[1] is None or math.isinf(by_i[1])
    assert by_i[2] == pytest.approx(1.0)
