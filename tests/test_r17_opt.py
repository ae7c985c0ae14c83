"""Round-17 optimization pins (r16 verdict #5/#6): the PQ/OPQ job-count
collapse and the resident-session table cache change operator INTERNALS
— these tests pin that every visible value is bit-identical to the
pre-collapse forms.
"""

import os

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------- opq --
def test_opq_arrow_rotation_bit_equals_jvm_fold(spark):
    """The candidate-side Arrow rotation kernel must reproduce the JVM
    transform/aggregate fold double-for-double (same IEEE op order:
    acc starts at 0.0, adds v[i]*R[i][j] in strict i order), including
    the all-null row for a NULL / wrong-length / null-element vector."""
    import numpy as np

    from parallel_pandas_spark.operators.similarity import (
        rotate_vectors, seeded_rotation,
    )

    dim = 8
    R = seeded_rotation(dim, 7)
    rng = np.random.default_rng(3)
    vecs = [[float(x) for x in rng.normal(size=dim)] for _ in range(17)]
    dirty = [
        None,                               # null vector
        [1.0] * (dim - 1),                  # wrong length
        [1.0] * (dim - 2) + [None, 2.0],    # null element
    ]
    rows = [(i, v) for i, v in enumerate(vecs + dirty)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    jvm = {
        r["id"]: r["o"]
        for r in df.select(
            "id", rotate_vectors(F.col("v"), R).alias("o")
        ).collect()
    }

    # the same kernel ivfpq_topk_from_store builds, exercised through a
    # tiny OPQ store end-to-end below; here the kernel path is compared
    # directly via a store-less replica of its select
    import pandas as pd

    Rm = np.array(R, dtype=np.float64)

    def _rot_fn(s):
        out = []
        vals, idx = [], []
        for i, v in enumerate(s):
            if v is None or len(v) != dim:
                out.append([None] * dim)
            else:
                out.append(None)
                vals.append(np.asarray(v, dtype=np.float64))
                idx.append(i)
        if vals:
            mat = np.vstack(vals)
            acc = np.zeros((len(vals), dim), dtype=np.float64)
            for i in range(dim):
                acc += mat[:, i : i + 1] * Rm[i, :]
            for j, i in enumerate(idx):
                out[i] = acc[j].tolist()
        return pd.Series(out)

    _rot_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    rot_udf = F.pandas_udf(_rot_fn, "array<double>")
    all_null = F.array(*[F.lit(None).cast("double") for _ in range(dim)])
    arrow = {
        r["id"]: r["o"]
        for r in df.select(
            "id",
            F.when(F.exists(F.col("v"), lambda x: x.isNull()), all_null)
            .otherwise(rot_udf(F.col("v")))
            .alias("o"),
        ).collect()
    }
    assert set(jvm) == set(arrow)
    for k in jvm:
        assert jvm[k] == arrow[k], (k, jvm[k], arrow[k])


def test_ivfpq_store_df_form_bit_equals_path_form(spark, sf_small, tmp_path):
    """Passing an already-loaded store DataFrame must return the exact
    rows the path form returns (it is the same load, held)."""
    from parallel_pandas_spark.operators.vecstore import (
        ivfpq_topk_from_store, load_vector_store, write_ivfpq_store,
    )
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    path = str(tmp_path / "pqstore")
    write_ivfpq_store(
        emb, path, "vec_id", "embedding", m=8, ks=16, dim=64,
        iters=0, num_centroids=8,
    )
    by_path = ivfpq_topk_from_store(
        spark, path, emb, queries, k=5, pool=30, nprobe=3)
    held = load_vector_store(spark, f"{path}/codes", "vec_id")
    by_df = ivfpq_topk_from_store(
        spark, path, emb, queries, k=5, pool=30, nprobe=3, store_df=held)
    assert _rows(by_path) == _rows(by_df)


# ----------------------------------------------------------------- pq --
def test_pq_fused_collect_books_match_pq_codebooks(spark, sf_small):
    """pq_topk's fused single-job collect must fit the bit-identical
    codebooks the standalone pq_codebooks collect fits (same md5 order,
    same doubles) and return identical top-k rows."""
    import numpy as np

    from parallel_pandas_spark.operators.similarity import (
        pq_codebooks, pq_topk,
    )
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    books = pq_codebooks(emb, "vec_id", "embedding", m=8, ks=16, dim=64)
    frozen = _rows(pq_topk(
        emb, queries, "vec_id", "embedding", k=5, pool=30, books=books))
    fused = _rows(pq_topk(
        emb, queries, "vec_id", "embedding", k=5, pool=30, iters=0))
    assert frozen == fused


# --------------------------------------------------------- load_table --
def test_load_table_cache_identity_and_invalidation(spark, sf_small):
    from parallel_pandas_spark.sources import load_table
    from parallel_pandas_spark.sources.loaders import _TABLE_DFS

    a = load_table(spark, sf_small, "region")
    b = load_table(spark, sf_small, "region")
    assert a is b  # resident handle: one footer job per (path, stamp)
    # mtime moves -> fresh handle
    key = os.path.abspath(os.path.join(sf_small, "region.parquet"))
    (mtime_ns, size), df = _TABLE_DFS[key]
    _TABLE_DFS[key] = ((mtime_ns - 1, size), df)
    c = load_table(spark, sf_small, "region")
    assert c is not a
    # the cached handle is the same table a direct read yields
    direct = spark.read.parquet(key)
    assert a.schema == direct.schema
    assert _rows(a) == _rows(direct)


def test_load_table_cache_rows_identical(spark, sf_small):
    from parallel_pandas_spark.sources import load_table

    path = os.path.join(sf_small, "nation.parquet")
    cached = load_table(spark, sf_small, "nation")
    assert load_table(spark, sf_small, "nation") is cached
    assert _rows(cached) == _rows(spark.read.parquet(path))


def test_load_table_cache_sees_part_file_rewritten_in_place(spark, tmp_path):
    """A directory table whose part file is rewritten in place keeps its
    directory mtime; the cache must still hand out a fresh handle that
    reads the new rows. (A stale handle keeps the old file length in its
    file index, so the scan split ends before the new row group.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parallel_pandas_spark.sources import load_table

    part = tmp_path / "t.parquet" / "part-00000.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 3]}), str(part))
    dir_mtime = os.stat(part.parent).st_mtime_ns
    assert _rows(load_table(spark, str(tmp_path), "t")) == [(1,), (2,), (3,)]
    pq.write_table(pa.table({"k": list(range(5000))}), str(part))
    assert os.stat(part.parent).st_mtime_ns == dir_mtime
    assert _rows(load_table(spark, str(tmp_path), "t")) == [
        (k,) for k in range(5000)]


# -------------------------------------------------------- tune_probes --
def test_tune_probes_pq_single_load_unchanged_result(spark, sf_small, tmp_path):
    """tune_probes' hoisted store load must not change the tuner's
    decision (same snapshot, same recall curve)."""
    from parallel_pandas_spark.operators.vecstore import (
        tune_probes, write_ivfpq_store,
    )
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    path = str(tmp_path / "tpstore")
    write_ivfpq_store(
        emb, path, "vec_id", "embedding", m=8, ks=16, dim=64,
        iters=0, num_centroids=8,
    )
    out = tune_probes(
        spark, path, emb, emb.where(F.col("vec_id") < 5),
        k=5, pool=30, target_recall=0.9,
    )
    assert out["nprobe"] >= 1 and 0.0 <= out["recall"] <= 1.0
    assert out["evaluated"][0]["nprobe"] == 1
