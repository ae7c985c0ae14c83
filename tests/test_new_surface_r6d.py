"""Round-6d pandas verbs: non-aggregating pivot, duplicated marker,
row-wise idxmax/idxmin, combine_first patch-join, and the query()
expression compiler — each twinned against real pandas."""

import numpy as np
import pandas as pd
import pytest

from parallel_pandas_spark.api import ParallelFrame
from parallel_pandas_spark.functions.queryexpr import to_sql
from parallel_pandas_spark.operators import dedup, elementwise, joins, reshape


# -------------------------------------------------------------- pivot_wide --
def test_pivot_wide_matches_pandas(spark):
    pdf = pd.DataFrame(
        {
            "k": [1, 1, 2, 2, 3],
            "c": ["a", "b", "a", "b", "a"],
            "v": [10.0, 20.0, 30.0, 40.0, 50.0],
        }
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        reshape.pivot_wide(sdf, ["k"], "c", "v", pivot_values=["a", "b"])
        .toPandas().sort_values("k").reset_index(drop=True)
    )
    want = pdf.pivot(index="k", columns="c", values="v").reset_index()
    want.columns.name = None
    np.testing.assert_allclose(
        got[["a", "b"]].to_numpy(dtype=float),
        want[["a", "b"]].to_numpy(dtype=float),
    )


def test_pivot_wide_raises_on_duplicates(spark):
    pdf = pd.DataFrame({"k": [1, 1], "c": ["a", "a"], "v": [1.0, 2.0]})
    sdf = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="duplicate entries"):
        reshape.pivot_wide(sdf, ["k"], "c", "v").collect()
    # pandas raises too
    with pytest.raises(ValueError):
        pdf.pivot(index="k", columns="c", values="v")


# -------------------------------------------------------------- duplicated --
@pytest.mark.parametrize("keep", ["first", "last", False])
def test_duplicated_matches_pandas(spark, keep):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {"k": rng.integers(0, 8, 60), "ord": np.arange(60, dtype=np.int64)}
    ).sort_values("ord").reset_index(drop=True)
    sdf = spark.createDataFrame(pdf)
    got = (
        dedup.duplicated(sdf, "k", order_by=["ord"], keep=keep)
        .toPandas().sort_values("ord")["duplicated"].to_numpy()
    )
    want = pdf.duplicated(subset=["k"], keep=keep).to_numpy()
    np.testing.assert_array_equal(got, want, err_msg=f"keep={keep}")


# ------------------------------------------------------------ idxmax axis=1 --
@pytest.mark.parametrize("how", ["max", "min"])
@pytest.mark.parametrize("skipna", [True, False])
def test_idx_extreme_axis1_matches_pandas(spark, how, skipna):
    rng = np.random.default_rng(7)
    a = rng.normal(0, 1, 120)
    b = rng.normal(0, 1, 120)
    c = rng.normal(0, 1, 120)
    a[::7] = np.nan
    c[::11] = np.nan
    a[3], b[3], c[3] = np.nan, np.nan, np.nan  # all-missing row
    pdf = pd.DataFrame({"ord": np.arange(120, dtype=np.int64),
                        "a": a, "b": b, "c": c})
    sdf = spark.createDataFrame(pdf)
    got = (
        elementwise.idx_extreme_axis1(sdf, ["a", "b", "c"], how=how,
                                      skipna=skipna)
        .toPandas().sort_values("ord")[f"idx{how}"]
    )
    fn = getattr(pdf[["a", "b", "c"]], f"idx{how}")
    want = fn(axis=1, skipna=skipna)
    want_n = want.where(want.notna(), None).to_numpy(dtype=object)
    got_n = got.where(got.notna(), None).to_numpy(dtype=object)
    np.testing.assert_array_equal(got_n, want_n,
                                  err_msg=f"how={how} skipna={skipna}")


# ----------------------------------------------------------- combine_first --
def test_combine_first_matches_pandas(spark):
    left = pd.DataFrame(
        {"k": [1, 2, 3, 4], "x": [1.0, np.nan, 3.0, np.nan],
         "y": ["a", None, "c", None], "lonly": [9, 9, 9, 9]}
    )
    right = pd.DataFrame(
        {"k": [2, 3, 4, 5], "x": [20.0, 30.0, np.nan, 50.0],
         "y": ["B", "C", "D", "E"], "ronly": [7, 7, 7, 7]}
    )
    sdf = joins.combine_first(
        spark.createDataFrame(left), spark.createDataFrame(right), ["k"]
    ).toPandas().sort_values("k").reset_index(drop=True)
    want = (
        left.set_index("k").combine_first(right.set_index("k"))
        .reset_index().sort_values("k").reset_index(drop=True)
    )
    for c in ("x",):
        np.testing.assert_allclose(
            sdf[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float)
        )
    assert list(sdf["y"].fillna("-")) == list(want["y"].fillna("-"))
    assert set(sdf.columns) == set(want.columns)


# -------------------------------------------------------------------- query --
@pytest.mark.parametrize(
    "expr,env",
    [
        ("a > 1 & b == 'x'", None),
        ("a > 1 and not (b == 'y')", None),
        ("1 < a < 4", None),
        ("b in ['x', 'z'] | a == 0", None),
        ("c.notnull() & b not in ['y']", None),
        ("a ** 2 + 1 >= @lo", {"lo": 5}),
        ("`weird col` % 2 == 0", None),
    ],
)
def test_query_expr_matches_pandas(spark, expr, env):
    pdf = pd.DataFrame(
        {
            "a": [0, 1, 2, 3, 4, 5] * 10,
            "b": ["x", "y", "z"] * 20,
            "c": [1.0, None, 3.0] * 20,
            "weird col": list(range(60)),
        }
    )
    pf = ParallelFrame(spark.createDataFrame(pdf))
    got = pf.p_query(expr, env=env).df.toPandas()
    want = pdf.query(expr, engine="python",
                     local_dict=env or {}, parser="pandas")
    assert len(got) == len(want), f"{expr}: {len(got)} vs {len(want)}"
    assert sorted(got["a"].tolist()) == sorted(want["a"].tolist()), expr


def test_query_pushdown_reaches_scan(spark, tmp_path):
    """The compiled predicate appears in PushedFilters at the scan."""
    p = str(tmp_path / "t.parquet")
    spark.range(100).selectExpr("id", "id % 7 AS m").write.parquet(p)
    df = ParallelFrame(spark.read.parquet(p)).p_query("id > 50").df
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(id,50" in plan, plan


def test_query_rejects_unsupported(spark):
    with pytest.raises(ValueError, match="unsupported"):
        to_sql("a.map(f) > 2")
    with pytest.raises(ValueError, match="not supplied"):
        to_sql("a > @missing")


# ------------------------------------------------------- thin frame verbs --
def test_corrwith_matches_pandas(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "a": rng.normal(0, 1, 200),
            "b": rng.normal(0, 1, 200),
            "c": rng.normal(0, 1, 200),
        }
    )
    pdf["b"] = pdf["b"] + 0.5 * pdf["a"]
    pdf.loc[::9, "a"] = np.nan
    from parallel_pandas_spark.operators import reductions

    got = reductions.corr_with(
        spark.createDataFrame(pdf), [("a", "b"), ("a", "c")]
    ).toPandas()
    for _, r in got.iterrows():
        want = pdf[r["col_a"]].corr(pdf[r["col_b"]])
        np.testing.assert_allclose(r["corr"], want, rtol=1e-10)


def test_thin_verbs_roundtrip(spark):
    pdf = pd.DataFrame(
        {"k": [3, 1, 2], "v": [1.5, 2.5, None], "lst": [[1, 2], [], [3]]}
    )
    pf = ParallelFrame(spark.createDataFrame(pdf))
    s = pf.p_sort_values("k", ascending=False).df.toPandas()
    assert list(s["k"]) == [3, 2, 1]
    a = pf.p_astype({"k": "float64"}).df
    assert dict(a.dtypes)["k"] == "double"
    r = pf.p_rename({"v": "val"}).df
    assert "val" in r.columns and "v" not in r.columns
    from pyspark.sql import functions as F

    g = pf.p_assign(k2=F.col("k") * 2, k3=lambda d: d["k"] + 1).df.toPandas()
    assert list(g.sort_values("k")["k2"]) == [2, 4, 6]
    assert list(g.sort_values("k")["k3"]) == [2, 3, 4]
    b = pf.p_between("k", 1, 2).df
    assert b.count() == 2
    b2 = pf.p_between("k", 1, 2, inclusive="neither").df
    assert b2.count() == 0
    e = pf.p_explode("lst").df.toPandas()
    assert sorted(e["lst"].tolist()) == [1, 2, 3]
    eo = pf.p_explode("lst", keep_empty=True).df
    assert eo.count() == 4  # NaN row kept for the empty list, like pandas


# ---------------------------------------------------------- bloom anti-join --
def test_bloom_anti_join_equals_plain_anti_join(spark):
    """Exact-semantics contract: identical result to a left-anti join,
    including hash-collision candidates, across bucket sizes (tiny
    num_buckets forces heavy collisions through the exact path)."""
    from parallel_pandas_spark.operators import dedup as dd

    rng = np.random.default_rng(17)
    new = pd.DataFrame({"k": rng.integers(0, 500, 300), "tag": range(300)})
    seen = pd.DataFrame({"k": rng.integers(0, 500, 200)})
    sn, ss = spark.createDataFrame(new), spark.createDataFrame(seen)
    want = sorted(
        r["tag"] for r in sn.join(ss.distinct(), "k", "left_anti").collect()
    )
    for m in (8, 1 << 10, 1 << 22):  # heavy / moderate / no collisions
        got = sorted(
            r["tag"] for r in dd.bloom_anti_join(sn, ss, "k", num_buckets=m).collect()
        )
        assert got == want, f"num_buckets={m}"


def test_bloom_anti_join_broadcasts_bucket_set(spark):
    from parallel_pandas_spark.operators import dedup as dd
    from parallel_pandas_spark.plans import explain

    sn = spark.range(1000).selectExpr("id AS k")
    ss = spark.range(100).selectExpr("id * 3 AS k")
    df = dd.bloom_anti_join(sn, ss, "k")
    assert explain.has_broadcast_join(df)


# --------------------------------------------------------------------- bm25 --
def test_bm25_matches_reference_implementation(spark):
    """BM25 scores equal a straightforward numpy reference on a tiny
    corpus with known tf/df structure."""
    import math

    from parallel_pandas_spark.operators import text as tx

    docs = [
        (1, "hash join hash join hash"),
        (2, "join filter scan scan scan scan"),
        (3, "filter filter filter hash"),
        (4, "scan order merge batch"),
        (5, ""),
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    sdf = spark.createDataFrame(pdf)
    terms = ["hash", "filter"]
    got = {
        r["doc_id"]: r["bm25"]
        for r in tx.bm25_topk(sdf, "doc_id", "text", terms, k=10).collect()
    }
    # reference: corpus = non-empty docs
    corpus = {i: t.split() for i, t in docs if t.strip()}
    N = len(corpus)
    avgdl = sum(len(v) for v in corpus.values()) / N
    dfreq = {t: sum(1 for v in corpus.values() if t in v) for t in terms}
    k1, b = 1.2, 0.75
    for i, toks in corpus.items():
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if not tf:
                continue
            idf = math.log(1 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if s:
            np.testing.assert_allclose(got[i], round(s, 6), atol=2e-6,
                                       err_msg=f"doc {i}")
        else:
            assert i not in got
    assert 5 not in got  # empty doc never scores


# --------------------------------------------------------------------- json --
def test_json_normalize_nested_and_malformed(spark):
    from pyspark.sql import types as T

    from parallel_pandas_spark.functions import jsonf

    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "js": [
                '{"a": 1, "b": {"c": "x", "d": 2.5}}',
                '{"a": 7, "b": {"c": "y"}}',
                "not json at all",
                None,
            ],
        }
    )
    sdf = spark.createDataFrame(pdf)
    out = jsonf.json_normalize(
        sdf, "js", "a BIGINT, b STRUCT<c: STRING, d: DOUBLE>"
    ).toPandas().sort_values("id").reset_index(drop=True)
    assert list(out.columns) == ["id", "a", "b.c", "b.d"]
    assert out["a"].tolist()[:2] == [1, 7]
    assert out["b.c"].tolist()[:2] == ["x", "y"]
    assert pd.isna(out.loc[2, "a"]) and pd.isna(out.loc[3, "b.c"])
    # inference path agrees on the flat field set
    st = jsonf.infer_json_schema(sdf.where("id < 3"), "js")
    assert {f.name for f in st.fields} == {"a", "b"}
    # single-path getter
    got = (
        sdf.select("id", jsonf.json_get("js", "$.b.c").alias("c"))
        .toPandas().sort_values("id")["c"].tolist()
    )
    assert got[:2] == ["x", "y"] and got[2] is None


# ------------------------------------------------------------ merge_ordered --
def test_merge_ordered_matches_pandas(spark):
    left = pd.DataFrame({"g": ["a", "a", "b"], "t": [1, 3, 2],
                         "lv": [10.0, 30.0, 20.0]})
    right = pd.DataFrame({"g": ["a", "a", "b"], "t": [2, 3, 1],
                          "rv": [200.0, 300.0, 100.0]})
    from parallel_pandas_spark.operators import joins as jn

    got = (
        jn.merge_ordered(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="t", by=["g"], fill_method="ffill",
        )
        .toPandas().sort_values(["g", "t"]).reset_index(drop=True)
    )
    want = (
        pd.merge_ordered(left, right, on="t", left_by="g",
                         fill_method="ffill")
        .sort_values(["g", "t"]).reset_index(drop=True)
    )
    for c in ("lv", "rv"):
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float),
            err_msg=c,
        )


def test_str_get_dummies_matches_pandas(spark):
    from parallel_pandas_spark.functions import strings as st

    pdf = pd.DataFrame({"i": range(4), "tags": ["a|b", "b", "", "c|a"]})
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.select("i", *st.get_dummies("tags", ["a", "b", "c"]))
        .toPandas().sort_values("i").reset_index(drop=True)
    )
    want = pdf["tags"].str.get_dummies(sep="|")
    for c in ("a", "b", "c"):
        np.testing.assert_array_equal(
            got[c].to_numpy(), want[c].to_numpy(), err_msg=c
        )


# ------------------------------------------------------------ exact-n sample --
def test_sample_n_exact_deterministic_and_scale_plan(spark):
    from parallel_pandas_spark.operators import sampling as smp
    from parallel_pandas_spark.plans import explain

    df = spark.range(1000).selectExpr("id")
    a = sorted(r["id"] for r in smp.sample_n(df, ["id"], 37, seed=5).collect())
    b = sorted(
        r["id"]
        for r in smp.sample_n(df.repartition(13), ["id"], 37, seed=5).collect()
    )
    assert len(a) == 37 and a == b  # exact count, layout-independent
    c = sorted(r["id"] for r in smp.sample_n(df, ["id"], 37, seed=6).collect())
    assert a != c  # seed changes the draw
    txt = explain.explain_str(smp.sample_n(df, ["id"], 37, seed=5))
    assert "TakeOrderedAndProject" in txt, txt  # no global sort


def test_stratified_sample_n_per_group_counts(spark):
    from parallel_pandas_spark.operators import sampling as smp

    pdf = pd.DataFrame(
        {"g": ["a"] * 30 + ["b"] * 4, "id": range(34)}
    )
    out = smp.stratified_sample_n(
        spark.createDataFrame(pdf), "g", ["id"], 5, seed=1
    ).toPandas()
    counts = out.groupby("g").size().to_dict()
    assert counts == {"a": 5, "b": 4}  # capped at stratum size


# ----------------------------------------------- review-pass regressions --
def test_query_at_and_backtick_inside_string_literals(spark):
    """@ and backtick inside string literals pass through untouched."""
    assert to_sql("email == 'x@y.com'") == "(`email` = 'x@y.com')"
    assert to_sql('t == "a`b"') == "(`t` = 'a`b')"


def test_query_modulo_matches_python_sign(spark):
    pdf = pd.DataFrame({"a": [-3, -2, -1, 0, 1, 2, 3]})
    pf = ParallelFrame(spark.createDataFrame(pdf))
    got = sorted(r["a"] for r in pf.p_query("a % 2 == 1").df.collect())
    want = sorted(pdf.query("a % 2 == 1")["a"].tolist())
    assert got == want == [-3, -1, 1, 3]


def test_cut_right_false_include_lowest_noop_like_pandas(spark):
    pdf = pd.DataFrame({"ord": range(3), "x": [0.0, 10.0, 20.0]})
    got = (
        reshape.cut(spark.createDataFrame(pdf), "x", [0, 10, 20],
                    labels=False, right=False, include_lowest=True)
        .toPandas().sort_values("ord")["x_bin"].to_numpy(dtype=float)
    )
    want = pd.cut(pdf["x"], [0, 10, 20], labels=False, right=False,
                  include_lowest=True).to_numpy(dtype=float)
    np.testing.assert_array_equal(got, want)  # 20.0 -> NaN in both


def test_resample_pre_epoch_bins_floor_like_pandas(spark):
    from pyspark.sql import functions as F

    from parallel_pandas_spark.operators import resample as rs

    ts = pd.to_datetime([
        "1969-12-31 22:10:00", "1969-12-31 23:30:00", "1970-01-01 00:20:00",
        "1969-12-31 23:00:00",  # exact edge
    ])
    pdf = pd.DataFrame({"ts": ts, "v": [1.0, 2.0, 3.0, 4.0]})
    for closed in ("left", "right"):
        got = (
            rs.resample_agg(spark.createDataFrame(pdf), "ts", "1h",
                            [F.sum("v").alias("s")], closed=closed)
            .toPandas().sort_values("bin").reset_index(drop=True)
        )
        want = pdf.set_index("ts")["v"].resample("1h", closed=closed).sum()
        want = want[want > 0]
        np.testing.assert_array_equal(got["bin"].to_numpy(),
                                      want.index.to_numpy(),
                                      err_msg=f"closed={closed}")
        np.testing.assert_allclose(got["s"].to_numpy(), want.to_numpy())


def test_crosstab_values_subset_keeps_pandas_denominators(spark):
    pdf = pd.DataFrame({"r": ["a", "a", "a", "b"], "c": ["u", "v", "w", "u"]})
    sdf = spark.createDataFrame(pdf)
    got = (
        reshape.crosstab(sdf, "r", "c", values=["u", "v"], normalize="index")
        .toPandas().sort_values("r").set_index("r")
    )
    want = pd.crosstab(pdf["r"], pdf["c"], normalize="index")[["u", "v"]]
    np.testing.assert_allclose(got[["u", "v"]].to_numpy(dtype=float),
                               want.to_numpy(dtype=float))


def test_idx_extreme_axis1_single_column(spark):
    pdf = pd.DataFrame({"x": [1.0, np.nan, 3.0]})
    out = elementwise.idx_extreme_axis1(
        spark.createDataFrame(pdf), ["x"], how="max"
    ).toPandas()
    assert out["idxmax"].tolist() == ["x", None, "x"]


def test_json_normalize_rejects_column_collision(spark):
    from parallel_pandas_spark.functions import jsonf

    sdf = spark.createDataFrame(pd.DataFrame({"a": [1], "js": ['{"a": 2}']}))
    with pytest.raises(ValueError, match="duplicate existing column"):
        jsonf.json_normalize(sdf, "js", "a BIGINT")


def test_infer_json_schema_drops_corrupt_record(spark):
    from parallel_pandas_spark.functions import jsonf

    sdf = spark.createDataFrame(
        pd.DataFrame({"js": ['{"a": 1}', "not json"]})
    )
    st = jsonf.infer_json_schema(sdf, "js")
    assert {f.name for f in st.fields} == {"a"}


# ----------------------------------------------- review-pass 2 regressions --
def _nan_frame(spark):
    pdf = pd.DataFrame(
        {"k": [1, 2, 3, 4, 5],
         "v": [1.0, np.nan, None, 2.0, 3.0]}
    )
    return pdf, spark.createDataFrame(pdf)


def test_nlargest_nsmallest_exclude_missing(spark):
    from parallel_pandas_spark.operators import reductions as red

    pdf, sdf = _nan_frame(spark)
    small = [r["v"] for r in red.nsmallest(sdf, 2, "v", tie_breaker=["k"]).collect()]
    large = [r["v"] for r in red.nlargest(sdf, 2, "v", tie_breaker=["k"]).collect()]
    assert small == pdf.nsmallest(2, "v")["v"].tolist() == [1.0, 2.0]
    assert large == pdf.nlargest(2, "v")["v"].tolist() == [3.0, 2.0]


def test_clip_preserves_true_nan(spark):
    from parallel_pandas_spark.operators import elementwise as el

    _, sdf = _nan_frame(spark)
    got = (
        el.clip(sdf, ["v"], lower=1.5, upper=2.5)
        .toPandas().sort_values("k")["v"].tolist()
    )
    assert got[0] == 1.5 and np.isnan(got[1]) and got[2] is None or pd.isna(got[2])
    assert got[3] == 2.0 and got[4] == 2.5


def test_pct_change_fill_treats_nan_as_missing(spark):
    from parallel_pandas_spark.operators import ordered as od

    pdf = pd.DataFrame(
        {"ord": range(5), "v": [1.0, np.nan, None, 2.0, 4.0]}
    )
    got = (
        od.pct_change(spark.createDataFrame(pdf), ["v"], ["ord"],
                      fill_method="ffill")
        .toPandas().sort_values("ord")["v_pct_change"].to_numpy(dtype=float)
    )
    want = pdf["v"].ffill().pct_change().to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-12)  # [nan,0,0,1,1]


def test_named_agg_skips_true_nan(spark):
    from parallel_pandas_spark.api import ParallelFrame

    pdf = pd.DataFrame({"k": ["a", "a", "b"], "x": [1.0, np.nan, 5.0]})
    out = (
        ParallelFrame(spark.createDataFrame(pdf))
        .groupby("k").p_agg(sx=("x", "sum"), cx=("x", "count"))
        .toPandas().set_index("k")
    )
    want = pdf.groupby("k").agg(sx=("x", "sum"), cx=("x", "count"))
    assert out.loc["a", "sx"] == want.loc["a", "sx"] == 1.0
    assert out.loc["a", "cx"] == want.loc["a", "cx"] == 1


# ----------------------------------------------- review-pass 3 regressions --
def test_merge_semi_anti_and_cross_with_on(spark):
    from parallel_pandas_spark.operators import joins as jn

    left = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "a": [10, 20, 30]}))
    right = spark.createDataFrame(pd.DataFrame({"k": [2, 3, 4], "b": [1, 1, 1]}))
    semi = jn.merge(left, right, how="semi", on=["k"]).toPandas()
    assert sorted(semi["k"]) == [2, 3] and list(semi.columns) == ["k", "a"]
    anti = jn.merge(left, right, how="anti", on=["k"]).toPandas()
    assert sorted(anti["k"]) == [1]
    cross = jn.merge(left, right, how="cross").toPandas()
    assert len(cross) == 9 and "k_x" in cross.columns and "k_y" in cross.columns
    with pytest.raises(ValueError, match="no join keys"):
        jn.merge(left, right, how="cross", on=["k"])


def test_read_csv_header_overridable(spark, tmp_path):
    from parallel_pandas_spark.sources import loaders

    p = str(tmp_path / "h.csv")
    with open(p, "w") as f:
        f.write("1,x\n2,y\n")
    df = loaders.read_csv(spark, p, header=False)
    assert df.count() == 2  # first line is DATA, not a header


def test_load_table_missing_path_raises_cleanly(spark):
    from parallel_pandas_spark.sources import loaders

    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "unset")
    with pytest.raises(Exception):
        loaders.load_table(spark, "/root/testdata/sf0.001", "no_such_table")
    after = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "unset")
    assert before == after  # session conf untouched by unrelated failures


def test_ivf_small_corpus_and_probe_guard(spark):
    from parallel_pandas_spark.operators import similarity as sim

    one = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[1.0, 0.0]]})
    )
    q = spark.createDataFrame(
        pd.DataFrame({"vec_id": [100], "embedding": [[1.0, 0.1]]})
    )
    out = sim.ivf_topk(one, q, k=1, num_centroids=4)
    assert out.count() == 1  # single-row corpus no longer crashes
    with pytest.raises(NotImplementedError, match="probe_hamming"):
        sim.lsh_topk(one, q, probe_hamming=3)


def test_asof_join_suffixes_colliding_right_cols(spark):
    from parallel_pandas_spark.operators import joins as jn

    left = spark.createDataFrame(
        pd.DataFrame({"g": [1, 1], "ts": [1.0, 5.0], "value": [10.0, 20.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"g": [1, 1], "ts": [0.0, 4.0], "value": [1.0, 2.0]})
    )
    out = jn.asof_join(left, right, ts_left="ts", ts_right="ts",
                       by_left=["g"], by_right=["g"],
                       right_cols=["value"], direction="backward")
    assert "value_y" in out.columns and out.columns.count("value") == 1
    got = out.toPandas().sort_values("ts")
    assert got["value_y"].tolist() == [1.0, 2.0]


def test_streaming_package_exports_complete(spark):
    from parallel_pandas_spark import streaming as st

    assert callable(st.stream_dedup) and callable(st.run_stream_to_memory)
